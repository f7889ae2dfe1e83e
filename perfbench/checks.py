"""Output checks: response invariants and DuckDB twins.

Every response is checked against the top-k invariants. Samples are
also compared, outside the timed regions, with DuckDB twins built from
the repository's own SQL builders over the same generated parquet.
"""

from __future__ import annotations

import duckdb


def topk_errors(rows, k: int, known_ids, id_field: str = "doc_id",
                score_field: str = "score") -> list[str]:
    """Violations of: at most k rows, unique ids, scores descending,
    every id known."""
    errs = []
    if len(rows) > k:
        errs.append(f"{len(rows)} rows > k={k}")
    ids = [r[id_field] for r in rows]
    if len(set(ids)) != len(ids):
        errs.append("duplicate ids")
    scores = [r[score_field] for r in rows]
    if any(a < b for a, b in zip(scores, scores[1:])):
        errs.append("scores not descending")
    unknown = [i for i in ids if i not in known_ids]
    if unknown:
        errs.append(f"unknown ids {unknown[:5]}")
    return errs


def same_rows(spark_rows, duck_rows) -> bool:
    """Equal as row multisets, floats rounded and NaN-aware: the oracle
    harness's canonical form (``tools/verify_oracle.py``), columns
    compared by position."""
    from tools.verify_oracle import _canon

    a = [tuple(r) for r in spark_rows]
    b = [tuple(r) for r in duck_rows]
    cols = list(range(len((a or b or [()])[0])))
    return _canon(a, cols) == _canon(b, cols)


class Twin:
    """A DuckDB connection with views over the run's generated parquet."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")

    def view(self, name: str, paths: list[str]) -> None:
        files = ", ".join(f"'{p}'" for p in paths)
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet([{files}])"
        )

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def _edges_block() -> str:
    from memfuse_spark import oracles
    from memfuse_spark.operators.graph import SIM_EDGE_THRESHOLD

    return oracles.edges_cte(SIM_EDGE_THRESHOLD).strip()


def materialize_edges(twin: Twin, table: str = "twin_edges") -> str:
    """Evaluate the graph-edge twin (all-pairs cosine + FOLLOWS) once into
    ``table``, so several recall twins share it."""
    twin.con.execute(f"CREATE TEMP TABLE {table} AS WITH {_edges_block()} SELECT * FROM edges")
    return table


def recall_twin_sql(text: str, edges_table: str | None = None) -> str:
    """The 3-way hybrid oracle of the query registry (vector ∪ graph ∪
    keyword → RRF → hydrate, k=15, first stage 30) with its stored-anchor
    query vector replaced by the SQL hash embedding of ``text``, and its
    edge CTE by ``edges_table`` when given."""
    import __spark_entry__ as entry
    from memfuse_spark.functions.vector import hash_embedding_sql

    swaps = [(entry._q(entry.ANCHOR_VEC_ID),
              f"q AS (SELECT {hash_embedding_sql(repr(text), 64)} AS qv)")]
    if edges_table is not None:
        swaps.append((_edges_block(), f"edges AS (SELECT * FROM {edges_table})"))
    sql = entry._fusion3_sql(query_text=text)
    for old, new in swaps:
        if sql.count(old) != 1:
            raise RuntimeError("3-way oracle: CTE to replace not found")
        sql = sql.replace(old, new)
    return sql
