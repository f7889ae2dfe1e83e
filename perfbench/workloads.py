"""The benchmark's workloads: recall and ingest_recall.

Each workload has a set-up (stores built through the program's public
builders) and a measured closed loop with one client; ingest_recall's
measured part starts with one background consolidation pass. Every call
into a layer goes through the module attribute, so the traced run's
wrappers see it.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import pyarrow as pa

from perfbench import datagen
from perfbench.checks import (
    Twin, materialize_edges, recall_twin_sql, same_rows, topk_errors,
)
from perfbench.trace import Tracer

K = 15
FIRST_STAGE_K = 30
RRF_WEIGHTS = {"vector": 0.5, "keyword": 0.2}
EMBED_DIM = 64
NUM_PLANES = 4
KNN_K = 5
KNN_NPROBE = 2
PAGERANK_ITERS = 8
PAGERANK_DAMPING = 0.85
BASE_SHARE = 0.5  # ingest_recall: seeded half of documents is the base
EPOCH_DOC_SHARE = 0.1  # new documents per epoch, as a share of documents
VEC_SHARE = 0.4  # share of each slice that also gets a vector (200 of 500)
READS_PER_EPOCH = 6  # fresh reads after each epoch (the base is epoch 0)
KNN_BASE_SHARE = 0.8  # consolidation: seeded 80% build, 20% append
# Consolidation inputs have a tenth of the sf0.1 shapes: a pass launches
# about 180 Spark jobs, so its time is set by the job count more than by
# the rows, and one pass must fit in a run.
CONSOLIDATE_SF = 0.01
PASS_REQUEST = -1  # request id of the consolidation pass's spans
RECALL_CHECKS = 1  # sampled recall requests compared with the DuckDB twin
# Untimed requests on the real stores before timing, so first-call costs
# stay out of the series (ingest_recall's consolidation pass does this there).
WARM_REQUESTS = 1


@dataclass
class Ctx:
    """State of one benchmark run, shared by set-up, loop and checks."""

    spark: object
    tracer: Tracer
    seed: int
    scale: datagen.Scale
    work: str
    op_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    build_s: float = 0.0
    warm_s: float = 0.0
    ingest_rows: int = 0
    ingest_write_s: float = 0.0
    pass_s: float = 0.0  # the workload's store pass (see metrics.summarise)
    store_bytes: int = 0
    input_bytes: int = 0
    live_rdds: list[int] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    layer: dict[str, list[float]] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path`` (no checksums or
    markers)."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def collect(ctx: Ctx, df) -> list:
    """Plan (traced runs only, so planning shows as its own span) and
    collect ``df``."""
    tr = ctx.tracer
    if tr.enabled:
        with tr.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
    with tr.span("spark.collect"):
        return df.collect()


def _load(spark, sf_dir: str, name: str):
    """A generated table through the program's catalog loader."""
    from memfuse_spark.catalog import load_table

    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# recall
# --------------------------------------------------------------------------

class Recall:
    """Closed-loop hybrid retrieval over prebuilt keyword and graph stores.

    Request texts repeat with Zipf weights, as in a session; the cache is
    never released between requests."""

    name = "recall"

    def setup(self, ctx: Ctx) -> None:
        from memfuse_spark.operators import graph, keyword

        spark = ctx.spark
        tables = datagen.write_corpus(ctx.seed, ctx.scale, ctx.path("input"),
                                      names=("documents", "embeddings"))
        self.docs = _load(spark, ctx.path("input"), "documents")
        self.emb = _load(spark, ctx.path("input"), "embeddings")
        self.doc_ids = set(tables["documents"].column("doc_id").to_pylist())
        ctx.input_bytes = sum(
            os.path.getsize(ctx.path("input", f"{t}.parquet"))
            for t in ("documents", "embeddings")
        )
        stores = ctx.path("stores")
        self.postings = "pb_postings"
        t0 = time.perf_counter()
        keyword.build_postings_index(spark, self.docs, self.postings, path=stores)
        graph.build_edges_store(spark, self.emb, "pb_edges", path=stores)
        ctx.build_s = ctx.pass_s = time.perf_counter() - t0
        self.edges = spark.table("pb_edges")
        ctx.store_bytes = dir_stats(stores)[1]
        ctx.ingest_rows = tables["documents"].num_rows + tables["embeddings"].num_rows
        ctx.ingest_write_s = ctx.build_s
        ctx.info["input_rows"] = {t: tables[t].num_rows for t in ("documents", "embeddings")}
        # warm-up on the real stores, with texts from another stream than the
        # measured session's
        t0 = time.perf_counter()
        for text in datagen.distinct_texts(ctx.seed + 1, WARM_REQUESTS):
            self._request(ctx, self.docs, self.emb, self.edges, self.postings, text)
        ctx.warm_s = time.perf_counter() - t0

    def _request(self, ctx: Ctx, docs, emb, edges, postings: str, text: str) -> list:
        from memfuse_spark.functions import vector
        from memfuse_spark.plans import pipeline

        with ctx.tracer.span("request"):
            qvec = vector.py_hash_embedding(text, EMBED_DIM)
            df = pipeline.hybrid_retrieval_3way(
                docs, emb, edges, text, qvec, k=K, first_stage_k=FIRST_STAGE_K,
                postings_index=postings,
            )
            return collect(ctx, df)

    def measure(self, ctx: Ctx, seconds: float) -> None:
        texts = datagen.zipf_requests(ctx.seed, 100_000)
        self.results: dict[str, list] = {}
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline:
            text = texts[i]
            ctx.tracer.request = i
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                rows = self._request(ctx, self.docs, self.emb, self.edges,
                                     self.postings, text)
            except Exception as e:  # an op failure is counted, the loop goes on
                ctx.fail(f"request {i}: {type(e).__name__}: {e}"[:300])
                rows = None
            else:
                ctx.op_s.append(time.perf_counter() - t0)
            ctx.tracer.request = None
            ctx.live_rdds.append(ctx.persisted_rdds())
            if rows is not None:
                ctx.note("result_rows", len(rows))
                errs = topk_errors(rows, K, self.doc_ids)
                first = self.results.setdefault(text, rows)
                if first is not rows and [tuple(r) for r in first] != [tuple(r) for r in rows]:
                    errs.append("repeated text gave different rows")
                if errs:
                    ctx.fail(f"request {i}: {errs}")
            i += 1
        ctx.info["requests"] = i
        ctx.info["distinct_texts"] = len(set(texts[:i]))
        ctx.info["repeat_share"] = datagen.repeat_share(texts[:i])

    def check(self, ctx: Ctx) -> None:
        g = datagen.rng(ctx.seed, "checks")
        texts = sorted(self.results)
        picks = g.choice(len(texts), min(RECALL_CHECKS, len(texts)), replace=False)
        twin = Twin()
        try:
            twin.view("documents", [ctx.path("input", "documents.parquet")])
            twin.view("embeddings", [ctx.path("input", "embeddings.parquet")])
            edges = materialize_edges(twin)
            for p in sorted(picks):
                text = texts[p]
                ctx.attempted += 1
                if not same_rows(self.results[text], twin.rows(recall_twin_sql(text, edges))):
                    ctx.fail(f"recall twin mismatch for {text!r}")
        finally:
            twin.close()
        ctx.info["twin_checked"] = len(picks)


# --------------------------------------------------------------------------
# ingest_recall
# --------------------------------------------------------------------------

class IngestRecall:
    """One background consolidation pass, then fresh reads with
    never-repeated texts on the streaming keyword and vector stores, with
    an epoch appended to both after every READS_PER_EPOCH reads."""

    name = "ingest_recall"

    def _slice_vectors(self, ctx: Ctx, table, epoch: int):
        """The seeded documents of a slice that also get vectors: VEC_SHARE
        of an epoch's documents; for the base (epoch 0), as many as one
        epoch gets. An epoch's vectors are embedded from the text when it
        is written; the base's are given as seeded unit vectors, because
        under the benchmark's JVM a hash-embedding vector write costs
        about 10 s of driver-side planning, whatever its row count."""
        g = datagen.rng(ctx.seed, "epochs", epoch, 1)
        n_vec = int(round(VEC_SHARE * self.epoch_docs))
        keep = g.choice(table.num_rows, min(n_vec, table.num_rows), replace=False)
        picked = table.take(sorted(keep.tolist()))
        if epoch:
            return picked.select(["doc_id", "text"])
        vecs = datagen.embeddings(datagen.rng(ctx.seed, "epochs", 0, 2), picked.num_rows)
        return pa.table({
            "vec_id": picked.column("doc_id"),
            # the double vectors hash_embedding gives the epochs
            "embedding": vecs.column("embedding").cast(pa.list_(pa.float64())),
        })

    def _write_epoch(self, ctx: Ctx, store: str, epoch: int, doc_path: str,
                     vec_path: str) -> None:
        from memfuse_spark.functions import vector
        from memfuse_spark.streaming import buffer

        spark = ctx.spark
        docs = spark.read.parquet(doc_path)
        vecs = spark.read.parquet(vec_path)
        if epoch:
            vecs = (vecs.withColumnRenamed("doc_id", "vec_id")
                    .withColumn("embedding", vector.hash_embedding("text", EMBED_DIM))
                    .select("vec_id", "embedding"))
        t0 = time.perf_counter()
        buffer.write_index_epoch(docs, store, epoch)
        t1 = time.perf_counter()
        buffer.write_vector_epoch(vecs, store, epoch, dim=EMBED_DIM, num_planes=NUM_PLANES)
        t2 = time.perf_counter()
        ctx.note("write_index_s", t1 - t0)
        ctx.note("write_vector_s", t2 - t1)

    def _stage(self, ctx: Ctx, table, epoch: int, tag: str) -> tuple[str, str, int]:
        """Write one slice's documents and vector subset as input parquet."""
        doc_path = datagen.write(table, ctx.path(tag, f"docs_{epoch}.parquet"))
        vt = self._slice_vectors(ctx, table, epoch)
        vec_path = datagen.write(vt, ctx.path(tag, f"vecs_{epoch}.parquet"))
        return doc_path, vec_path, table.num_rows + vt.num_rows

    def _read(self, ctx: Ctx, store: str, text: str) -> list:
        from memfuse_spark.functions import vector
        from memfuse_spark.operators import ann, fusion, keyword
        from pyspark.sql import functions as F

        spark = ctx.spark
        with ctx.tracer.span("request"):
            qvec = vector.py_hash_embedding(text, EMBED_DIM)
            kw = fusion.tag_store(
                keyword.bm25_topk_from_stream_index(spark, store, text, FIRST_STAGE_K),
                "keyword",
            )
            vec = fusion.tag_store(
                ann.bucketed_topk(spark, os.path.join(store, "vectors"), qvec,
                                  FIRST_STAGE_K, num_planes=NUM_PLANES)
                .withColumnRenamed("vec_id", "doc_id"),
                "vector",
            )
            fused = fusion.rrf_fusion(fusion.union_results(vec, kw), weights=RRF_WEIGHTS)
            df = fused.orderBy(F.desc("score"), F.asc("doc_id")).limit(K)
            return collect(ctx, df)

    def setup(self, ctx: Ctx) -> None:
        docs = datagen.documents(datagen.rng(ctx.seed, "documents"), ctx.scale.docs)
        base_mask = datagen.split_mask(ctx.seed, "base_split", docs.num_rows, BASE_SHARE)
        self.base = docs.filter(base_mask)
        rest = docs.filter(~base_mask)
        self.epoch_docs = max(1, int(round(EPOCH_DOC_SHARE * ctx.scale.docs)))
        self.pool = [rest.slice(i, self.epoch_docs)
                     for i in range(0, rest.num_rows - self.epoch_docs + 1, self.epoch_docs)]
        self.next_id = docs.num_rows
        self.doc_paths: list[str] = []  # documents ingested so far, for the twin
        bd, bv, base_rows = self._stage(ctx, self.base, 0, "input")
        self.doc_paths.append(bd)
        self.input_bytes = os.path.getsize(bd) + os.path.getsize(bv)
        self.store = ctx.path("store")
        t0 = time.perf_counter()
        self._write_epoch(ctx, self.store, 0, bd, bv)
        ctx.build_s = time.perf_counter() - t0
        self.known = set(self.base.column("doc_id").to_pylist())
        self.base_rows = base_rows
        ctx.info["base_rows"] = base_rows
        self.consolidation = Consolidation()
        self.consolidation.setup(ctx)
        ctx.layer.clear()

    def _epoch_table(self, ctx: Ctx, epoch: int):
        if epoch <= len(self.pool):
            return self.pool[epoch - 1]
        t = datagen.epoch_documents(ctx.seed, epoch, self.epoch_docs, self.next_id)
        self.next_id += t.num_rows
        return t

    def measure(self, ctx: Ctx, seconds: float) -> None:
        # The pass runs first and is timed on its own (store_pass_s); the
        # reads after it find the driver's code warm, as in a long-lived
        # service.
        self.consolidation.run(ctx)
        texts = datagen.distinct_texts(ctx.seed, 20_000)
        self.checks: list[tuple[int, str, list, list]] = []
        deadline = time.perf_counter() + seconds
        epoch = reads = 0
        rows_written = 0
        write_s = 0.0
        files_before, bytes_before = dir_stats(self.store)
        while True:
            # fresh reads of the store as of `epoch`; at least one per epoch
            for j in range(READS_PER_EPOCH):
                if j and time.perf_counter() >= deadline:
                    break
                self._timed_read(ctx, texts[reads], reads)
                reads += 1
            # untimed: the keyword branch as of this epoch, for check()
            text = texts[reads - 1]
            self.checks.append((epoch, text, list(self.doc_paths), self._bm25(ctx, text)))
            # every run appends at least one epoch
            if epoch >= 1 and time.perf_counter() >= deadline:
                break
            epoch += 1
            table = self._epoch_table(ctx, epoch)
            dpath, vpath, n_rows = self._stage(ctx, table, epoch, "input")
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                self._write_epoch(ctx, self.store, epoch, dpath, vpath)
            except Exception as e:  # counted; later reads still run
                ctx.fail(f"epoch {epoch} write: {type(e).__name__}: {e}"[:300])
                continue
            write_s += time.perf_counter() - t0
            rows_written += n_rows
            self.doc_paths.append(dpath)
            self.input_bytes += os.path.getsize(dpath) + os.path.getsize(vpath)
            self.known.update(table.column("doc_id").to_pylist())
            files, size = dir_stats(self.store)
            ctx.note("files_written", files - files_before)
            ctx.note("bytes_written", size - bytes_before)
            files_before, bytes_before = files, size
            if epoch == 1:  # a fixed point, so the ratio does not depend on speed
                ctx.store_bytes, ctx.input_bytes = size, self.input_bytes
            ctx.note("files_per_read", self._files_per_read())
        # all store writes of the run: the set-up base write and the epochs
        ctx.ingest_rows = self.base_rows + rows_written
        ctx.ingest_write_s = ctx.build_s + write_s
        ctx.info.update(epochs=epoch, reads=reads, rows_written=rows_written,
                        docs_per_epoch=self.epoch_docs)

    def _timed_read(self, ctx: Ctx, text: str, i: int) -> None:
        ctx.tracer.request = i
        ctx.attempted += 1
        t0 = time.perf_counter()
        try:
            rows = self._read(ctx, self.store, text)
        except Exception as e:  # counted; the loop goes on
            ctx.fail(f"read {i}: {type(e).__name__}: {e}"[:300])
            rows = None
        else:
            ctx.op_s.append(time.perf_counter() - t0)
        ctx.tracer.request = None
        ctx.live_rdds.append(ctx.persisted_rdds())
        if rows is not None:
            ctx.note("result_rows", len(rows))
            errs = topk_errors(rows, K, self.known)
            if errs:
                ctx.fail(f"read {i}: {errs}")

    def _bm25(self, ctx: Ctx, text: str) -> list:
        from memfuse_spark.operators import keyword

        try:
            return keyword.bm25_topk_from_stream_index(
                ctx.spark, self.store, text, FIRST_STAGE_K).collect()
        except Exception as e:  # reported by check() as a mismatch
            return [("error", f"{type(e).__name__}: {e}"[:200])]

    def _files_per_read(self) -> float:
        """Index files a keyword read opens plus the mean vector files of
        one LSH bucket across epochs."""
        idx = sum(dir_stats(os.path.join(self.store, d))[0]
                  for d in ("postings", "dfparts", "statsparts"))
        vroot = os.path.join(self.store, "vectors")
        per_bucket: dict[str, int] = {}
        for ep in os.listdir(vroot):
            if not ep.startswith("epoch_id="):
                continue
            for b in os.listdir(os.path.join(vroot, ep)):
                if b.startswith("bucket="):
                    per_bucket[b] = per_bucket.get(b, 0) + dir_stats(
                        os.path.join(vroot, ep, b))[0]
        return idx + (sum(per_bucket.values()) / len(per_bucket) if per_bucket else 0)

    def check(self, ctx: Ctx) -> None:
        """Read-your-writes: the BM25 branch read right after each epoch
        equals the BM25 twin over every document ingested up to it. Then
        the consolidation outputs are checked."""
        from memfuse_spark.operators import keyword

        twin = Twin()
        try:
            for epoch, text, paths, got in self.checks:
                ctx.attempted += 1
                twin.view("documents", paths)
                if not same_rows(got, twin.rows(keyword.bm25_topk_sql(text, FIRST_STAGE_K))):
                    ctx.fail(f"epoch {epoch}: stream BM25 differs from twin for {text!r}")
        finally:
            twin.close()
        ctx.info["twin_checked"] = len(self.checks)
        self.consolidation.check(ctx)


# --------------------------------------------------------------------------
# consolidation (one pass, run by ingest_recall)
# --------------------------------------------------------------------------

class Consolidation:
    """The background consolidation pass over fixed seeded inputs: M0→M1→M2,
    MinHash near-dup pairs, incremental kNN store (build 80%, append 20%),
    PageRank. Every output is written as parquet."""

    def setup(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        spark = ctx.spark
        self.dir = ctx.path("consolidate")
        tables = datagen.write_corpus(ctx.seed, datagen.Scale(CONSOLIDATE_SF), self.dir)
        n = tables["embeddings"].num_rows
        base_mask = datagen.split_mask(ctx.seed, "knn_split", n, KNN_BASE_SHARE)
        self.base_ids = [i for i, m in zip(tables["embeddings"].column("vec_id").to_pylist(),
                                           base_mask) if m]
        events, docs, emb = (_load(spark, self.dir, t)
                             for t in ("events", "documents", "embeddings"))
        is_base = F.col("vec_id").isin(self.base_ids)
        self.inputs = (events, docs, emb.filter(is_base), emb.filter(~is_base))
        ctx.info["consolidate_rows"] = {t: v.num_rows for t, v in tables.items()}

    def run(self, ctx: Ctx) -> None:
        """One timed pass, then its outputs are read back (untimed)."""
        out = ctx.path("consolidated")
        ctx.tracer.request = PASS_REQUEST
        ctx.attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("request"):
                self._pass(ctx, *self.inputs, out)
        except Exception as e:  # counted; the checks report it too
            ctx.fail(f"consolidation pass: {type(e).__name__}: {e}"[:300])
        else:
            ctx.pass_s = time.perf_counter() - t0
        ctx.tracer.request = None
        self.output = self._summary(ctx, out)

    def _pass(self, ctx: Ctx, events, docs, emb_base, emb_rest, out: str) -> None:
        from memfuse_spark.operators import dedup, graph, hierarchy

        spark = ctx.spark
        tr = ctx.tracer
        steps = []
        t = time.perf_counter()
        with tr.span("operators.hierarchy.m1"):
            hierarchy.m1_from_m0(hierarchy.m0_from_events(events)).write.parquet(
                os.path.join(out, "m1"))
        steps.append(("m1_s", time.perf_counter() - t))
        t = time.perf_counter()
        with tr.span("operators.hierarchy.m2"):
            hierarchy.m2_facts_from_m1(spark.read.parquet(os.path.join(out, "m1"))
                                       ).write.parquet(os.path.join(out, "m2"))
        steps.append(("m2_s", time.perf_counter() - t))
        t = time.perf_counter()
        with tr.span("operators.dedup.minhash"):
            dedup.minhash_lsh_pairs(docs).write.parquet(os.path.join(out, "pairs"))
        steps.append(("minhash_s", time.perf_counter() - t))
        knn = os.path.join(out, "knn")
        t = time.perf_counter()
        with tr.span("operators.graph.knn_build"):
            graph.build_knn_store_inc(spark, emb_base, knn, k=KNN_K, nprobe=KNN_NPROBE)
        steps.append(("knn_build_s", time.perf_counter() - t))
        t = time.perf_counter()
        with tr.span("operators.graph.knn_append"):
            graph.append_knn_store(spark, emb_rest, knn)
        steps.append(("knn_append_s", time.perf_counter() - t))
        t = time.perf_counter()
        with tr.span("operators.graph.pagerank"):
            graph.pagerank(graph.knn_store_edges(spark, knn), iterations=PAGERANK_ITERS,
                           damping=PAGERANK_DAMPING).write.parquet(os.path.join(out, "pagerank"))
        steps.append(("pagerank_s", time.perf_counter() - t))
        for k, v in steps:
            ctx.note(k, v)

    def _summary(self, ctx: Ctx, out: str) -> dict:
        """The pass outputs compared with the twins (pairs and served kNN
        edges)."""
        from memfuse_spark.operators import graph

        spark = ctx.spark
        try:
            return {
                "pairs": [tuple(r) for r in spark.read.parquet(os.path.join(out, "pairs")).collect()],
                "knn": [tuple(r) for r in graph.knn_store_edges(spark, os.path.join(out, "knn")).collect()],
            }
        except Exception as e:  # a pass that wrote nothing
            return {"error": f"{type(e).__name__}: {e}"[:300]}

    def check(self, ctx: Ctx) -> None:
        """The pass outputs equal the MinHash and kNN-store twins."""
        from memfuse_spark import oracles

        ctx.attempted += 1
        out = self.output
        if "error" in out:
            ctx.fail(f"consolidation output unreadable: {out['error']}")
            return
        twin = Twin()
        try:
            twin.view("documents", [os.path.join(self.dir, "documents.parquet")])
            twin.view("embeddings", [os.path.join(self.dir, "embeddings.parquet")])
            if not same_rows(out["pairs"], twin.rows(oracles.minhash_pairs_sql())):
                ctx.fail("minhash pairs differ from twin")
            fit = f"vec_id IN ({', '.join(map(str, self.base_ids))})"
            want = twin.rows(oracles.knn_store_inc_edges_sql(KNN_K, KNN_NPROBE, fit))
            if not same_rows(out["knn"], want):
                ctx.fail("kNN store edges differ from twin")
        finally:
            twin.close()
        ctx.info["pairs"] = len(out["pairs"])
        ctx.info["knn_edges"] = len(out["knn"])


WORKLOADS = {w.name: w for w in (Recall, IngestRecall)}
