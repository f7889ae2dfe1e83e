"""Seeded inputs for the benchmark.

Every table and request stream a run feeds the program comes from here,
derived only from ``--seed``: the same seed gives byte-identical inputs.
Shapes follow the sf0.1 fixture (5,000 documents over a 30-word corpus
vocabulary with ~5% near-duplicates, 2,000 unit-norm 64-d embeddings,
100,000 events from 1,500 users over 30 days). The generator is pure
NumPy/PyArrow so the program under test sees only finished parquet
files.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
DIM = 64

# Rows per unit of scale factor; sf0.1 gives the fixture's row counts.
DOCS_PER_SF = 50_000
VECS_PER_SF = 20_000
EVENTS_PER_SF = 1_000_000
USERS_PER_SF = 15_000

# Sub-streams of one seed. Each consumer draws from its own stream, so
# changing how much one of them draws never shifts another's inputs.
_STREAMS = {
    "documents": 1, "embeddings": 2, "events": 3, "queries": 4,
    "base_split": 5, "epochs": 6, "knn_split": 7, "checks": 8,
}


def rng(seed: int, stream: str, *sub: int) -> np.random.Generator:
    """The generator of one named sub-stream of ``seed``."""
    return np.random.default_rng([seed, _STREAMS[stream], *sub])


@dataclass(frozen=True)
class Scale:
    sf: float

    @property
    def docs(self) -> int:
        return max(20, int(DOCS_PER_SF * self.sf))

    @property
    def vecs(self) -> int:
        return max(20, int(VECS_PER_SF * self.sf))

    @property
    def events(self) -> int:
        return max(200, int(EVENTS_PER_SF * self.sf))

    @property
    def users(self) -> int:
        return max(5, int(USERS_PER_SF * self.sf))


def documents(g: np.random.Generator, n: int, first_id: int = 0,
              dup_share: float = 0.05) -> pa.Table:
    """``n`` documents of 10–100 vocabulary words; a ``dup_share`` of them
    copy another document's text and append ``dup`` (near-duplicates)."""
    lengths = g.integers(10, 101, n)
    words = np.asarray(VOCAB)[g.integers(0, len(VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    n_dup = int(n * dup_share)
    for i, j in zip(g.choice(n, n_dup, replace=False), g.integers(0, n, n_dup)):
        if i != j:
            texts[i] = texts[j] + " dup"
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": g.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(g: np.random.Generator, n: int, dim: int = DIM) -> pa.Table:
    """``n`` unit-norm float32 vectors with a 10-way label."""
    x = g.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": g.integers(0, 10, n).astype(np.int32),
    })


def events(g: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """``n`` events over 30 days, ordered by time."""
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    offs = np.sort(g.integers(0, 30 * 86_400 * 1_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": g.integers(0, n_users, n).astype(np.int64),
        "event_type": g.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(g.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)],
    })


def query_text(g: np.random.Generator) -> str:
    """2–6 distinct corpus terms."""
    k = int(g.integers(2, 7))
    return " ".join(np.asarray(VOCAB)[g.choice(len(VOCAB), k, replace=False)])


def zipf_requests(seed: int, n: int, pool: int = 64, s: float = 1.1) -> list[str]:
    """A session of ``n`` request texts drawn from a pool of ``pool`` texts
    with Zipf(``s``) rank weights, so popular texts repeat. The pool size
    and exponent are a choice of this benchmark, not measured traffic; the
    run reports the repeat share they give."""
    g = rng(seed, "queries")
    texts: list[str] = []
    while len(texts) < pool:
        t = query_text(g)
        if t not in texts:
            texts.append(t)
    w = 1.0 / np.arange(1, pool + 1) ** s
    picks = g.choice(pool, n, p=w / w.sum())
    return [texts[i] for i in picks]


def distinct_texts(seed: int, n: int) -> list[str]:
    """``n`` pairwise-distinct query texts (fresh reads never repeat)."""
    g = rng(seed, "queries", 1)
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        t = query_text(g)
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def repeat_share(texts: list[str]) -> float:
    """Share of requests whose text already appeared earlier."""
    seen: set[str] = set()
    hits = 0
    for t in texts:
        hits += t in seen
        seen.add(t)
    return hits / len(texts) if texts else 0.0


def split_mask(seed: int, stream: str, n: int, share: float) -> np.ndarray:
    """A seeded boolean mask selecting ``round(share * n)`` of ``n`` rows."""
    m = np.zeros(n, dtype=bool)
    m[rng(seed, stream).choice(n, int(round(share * n)), replace=False)] = True
    return m


def epoch_documents(seed: int, epoch: int, n: int, first_id: int) -> pa.Table:
    """The new documents appended in ingest epoch ``epoch`` (1-based)."""
    return documents(rng(seed, "epochs", epoch), n, first_id=first_id)


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def write_corpus(seed: int, scale: Scale, out_dir: str,
                 names=("documents", "embeddings", "events")) -> dict[str, pa.Table]:
    """Write the ``names`` tables (of ``documents``/``embeddings``/``events``)
    as parquet for ``seed`` under ``out_dir`` (the catalog's
    ``<dir>/<name>.parquet`` layout)."""
    make = {
        "documents": lambda: documents(rng(seed, "documents"), scale.docs),
        "embeddings": lambda: embeddings(rng(seed, "embeddings"), scale.vecs),
        "events": lambda: events(rng(seed, "events"), scale.events, scale.users),
    }
    tables = {name: make[name]() for name in names}
    for name, t in tables.items():
        write(t, os.path.join(out_dir, f"{name}.parquet"))
    return tables
