"""Turning one run's samples, spans and event log into metrics.

End-to-end metrics (untraced runs) and per-layer metrics (traced runs)
carry the names and units of BENCHMARK.json. The report adds the
workload's own names from the benchmark's README, sample counts and the
errors of failed operations.
"""

from __future__ import annotations

import time
from collections import defaultdict

from perfbench.trace import (
    SPARK_COUNTERS, Tracer, median, self_times, span_of_group, tail_percentile,
)

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "store_pass_s": "s",
    "ingest_rows_per_s": "rows/s",
    "store_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

# (layer, modules that bind the functions, functions). Spans are named
# "<layer>:<function>"; a layer's metrics sum its spans per operation.
P = "memfuse_spark."
WRAPPED = (
    ("functions.vector", (P + "functions.vector",), ("py_hash_embedding", "hash_embedding")),
    ("plans.pipeline", (P + "plans.pipeline",), ("hybrid_retrieval_3way",)),
    ("operators.similarity", (P + "operators.similarity", P + "plans.pipeline"),
     ("similarity_topk",)),
    ("operators.keyword", (P + "operators.keyword", P + "plans.pipeline"),
     ("bm25_topk_from_index", "bm25_topk_from_stream_index")),
    ("operators.graph", (P + "operators.graph",),
     ("contextual_retrieval", "build_knn_store_inc", "append_knn_store",
      "knn_store_edges", "pagerank")),
    ("operators.fusion", (P + "operators.fusion", P + "plans.pipeline"),
     ("rrf_fusion", "union_results", "tag_store")),
    ("operators.ann", (P + "operators.ann",), ("bucketed_topk",)),
    ("streaming.buffer", (P + "streaming.buffer",), ("write_index_epoch", "write_vector_epoch")),
    ("operators.hierarchy", (P + "operators.hierarchy",),
     ("m0_from_events", "m1_from_m0", "m2_facts_from_m1")),
    ("operators.dedup", (P + "operators.dedup",), ("minhash_lsh_pairs",)),
)

CONSTRUCT_LAYERS = ("plans.pipeline", "operators.similarity", "operators.fusion",
                    "operators.keyword", "operators.graph", "operators.ann")
EAGER_LAYERS = ("operators.graph", "operators.ann")
# Per-step metrics (median over epochs, or the one consolidation pass).
STEP_METRICS = {
    "streaming.buffer.write_index_s": ("write_index_s", "s"),
    "streaming.buffer.write_vector_s": ("write_vector_s", "s"),
    "streaming.buffer.files_written": ("files_written", "count"),
    "streaming.buffer.bytes_written": ("bytes_written", "bytes"),
    "store.files_per_read": ("files_per_read", "count"),
    # steps of the consolidation pass
    "operators.hierarchy.m1_s": ("m1_s", "s"),
    "operators.hierarchy.m2_s": ("m2_s", "s"),
    "operators.dedup.minhash_s": ("minhash_s", "s"),
    "operators.graph.knn_build_s": ("knn_build_s", "s"),
    "operators.graph.knn_append_s": ("knn_append_s", "s"),
    "operators.graph.pagerank_s": ("pagerank_s", "s"),
}
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "sched_wait_ms": "ms",
    "executor_run_ms": "ms", "executor_cpu_ms": "ms", "gc_ms": "ms",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "python_worker_ms": "ms",
}


def install_wrappers(tracer: Tracer) -> None:
    """Wrap each traced function in its defining module and wherever
    ``plans.pipeline`` imported it by name."""
    import importlib

    for layer, modules, funcs in WRAPPED:
        mods = [importlib.import_module(m) for m in modules]
        for f in funcs:
            tracer.wrap([m for m in mods if hasattr(m, f)], f, f"{layer}:{f}")


def span_cost_s(sc, n: int = 50) -> float:
    """Mean cost of opening and closing one span (job-group calls included)."""
    t = Tracer(sc, enabled=True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("overhead-probe"):
            pass
    return (time.perf_counter() - t0) / n


def _v(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _tail(samples: list[float]) -> dict:
    tp = tail_percentile(samples)
    out = {"samples": len(samples), "p50_s": median(samples),
           "series_s": [round(x, 4) for x in samples]}
    if tp is not None:
        out.update(tail_level=round(tp[0], 4), tail_s=tp[1])
    return out


def summarise(workload: str, ctx, session_s: float, peak_rss_mb: float,
              events=None, span_cost: float = 0.0) -> tuple[dict, dict, dict]:
    setup_s = session_s + ctx.build_s + ctx.warm_s
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(ctx.op_s),
        "store_pass_s": ctx.pass_s,
        "ingest_rows_per_s": ctx.ingest_rows / ctx.ingest_write_s if ctx.ingest_write_s else 0.0,
        "store_bytes_per_input_byte": ctx.store_bytes / ctx.input_bytes if ctx.input_bytes else 0.0,
        "peak_rss_mb": peak_rss_mb,
    }
    e2e_out = {k: _v(v, E2E_UNITS[k]) for k, v in e2e.items()}

    lat = _tail(ctx.op_s)
    p90 = lat.get("tail_s") if len(ctx.op_s) >= 100 else None
    named = {
        "recall": {"recall_p50_s": lat["p50_s"], "recall_p90_s": p90},
        "ingest_recall": {"fresh_recall_p50_s": lat["p50_s"], "fresh_recall_p90_s": p90,
                          "consolidate_pass_s": ctx.pass_s},
    }[workload]
    named.update(e2e)
    named["op_error_ratio"] = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    report = {
        "workload": workload,
        "metrics": named,
        "latency": lat,
        "setup": {"session_s": session_s, "warmup_s": ctx.warm_s, "store_build_s": ctx.build_s},
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "errors": ctx.errors,
        "inputs": ctx.info,
        "cache.live_rdds_max": max(ctx.live_rdds, default=0),
    }
    layer = {}
    if events is not None:
        layer, report["layers"] = _layer_metrics(ctx, events, span_cost)
    return report, e2e_out, layer


def _layer_metrics(ctx, events, span_cost: float) -> tuple[dict, dict]:
    from perfbench.workloads import PASS_REQUEST

    group = {span_of_group(g): counters for g, counters in events.items()}
    # the consolidation pass: Spark counters summed over its spans
    pass_spark = dict.fromkeys(SPARK_UNITS, 0.0)
    for s in ctx.tracer.spans:
        if s.request == PASS_REQUEST and s.sid in group:
            for c in SPARK_UNITS:
                pass_spark[c] += group[s.sid][c]
    # requests and fresh reads
    spans = [s for s in ctx.tracer.spans if s.request is not None and s.request >= 0]
    selft = self_times(spans)
    per_req: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    by_layer: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        r = per_req[s.request]
        layer = s.name.split(":")[0]
        r[f"self:{layer}"] += selft[s.sid]
        r["spans"] += 1
        if s.name in ("spark.plan", "spark.collect"):
            r[s.name] += s.duration
        counters = group.get(s.sid)
        if counters:
            r[f"jobs:{layer}"] += counters["jobs"]
            for c in SPARK_COUNTERS:
                r[c] += counters[c]
                by_layer[layer][c] += counters[c]
    n = max(1, len(per_req))
    reqs = list(per_req.values())

    def med(key: str) -> float:
        return median([r.get(key, 0.0) for r in reqs])

    out = {"functions.vector.embed_s": _v(med("self:functions.vector"), "s")}
    for layer in CONSTRUCT_LAYERS:
        out[f"{layer}.construct_s"] = _v(med(f"self:{layer}"), "s")
    for layer in EAGER_LAYERS:
        out[f"{layer}.eager_jobs"] = _v(med(f"jobs:{layer}"), "count")
    for name, (key, unit) in STEP_METRICS.items():
        out[name] = _v(median(ctx.layer.get(key, [])), unit)
    out["cache.live_rdds"] = _v(max(ctx.live_rdds, default=0), "count")
    out["spark.plan_s"] = _v(med("spark.plan"), "s")
    out["spark.collect_s"] = _v(med("spark.collect"), "s")
    for c, unit in SPARK_UNITS.items():
        out[f"spark.{c}"] = _v(med(c), unit)
    results = ctx.layer.get("result_rows", [])
    out["spark.input_records_per_result"] = _v(
        med("input_records") / max(1.0, median(results)) if results else med("input_records"),
        "records",
    )
    for c, unit in SPARK_UNITS.items():
        out[f"consolidation.spark.{c}"] = _v(pass_spark[c], unit)
    out["trace.op_p50_s"] = _v(median(ctx.op_s), "s")
    out["trace.span_overhead_s"] = _v(med("spans") * span_cost, "s")
    detail = {layer: {c: v / n for c, v in cs.items()} for layer, cs in by_layer.items()}
    return out, detail
