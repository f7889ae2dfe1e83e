"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..", "..")))

from perfbench import datagen  # noqa: E402
from perfbench.checks import same_rows, topk_errors  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span, Tracer, parse_event_log, self_times, span_of_group, tail_percentile,
)

DATA = os.path.join(os.path.dirname(__file__), "data")


# --- percentile rule -------------------------------------------------------

def test_tail_percentile_is_p90_at_100_samples():
    level, value = tail_percentile([float(x) for x in range(100, 0, -1)])
    assert level == pytest.approx(0.90)
    assert value == 90.0  # ten samples (91..100) lie beyond it


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(x) for x in range(1, 38)]
    level, value = tail_percentile(xs)
    assert sum(x > value for x in xs) == 10
    assert level == pytest.approx(27 / 37)


def test_tail_percentile_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([3.0] * 10 + [1.0]) == (pytest.approx(1 / 11), 1.0)


# --- self time -------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "request", 0.0, 10.0, None, 1),
        Span(1, "a", 1.0, 3.0, 0, 1),
        Span(2, "b", 2.0, 4.0, 0, 1),   # overlaps a: union 1..4
        Span(3, "c", 8.0, 12.0, 0, 1),  # clipped to the parent: 8..10
        Span(4, "d", 1.5, 2.5, 1, 1),   # grandchild: charged to a only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_spans_and_restores_wrapped_functions():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    other = types.SimpleNamespace(f=mod.f)
    orig = mod.f
    tr = Tracer(enabled=True)
    tr.wrap([mod, other], "f", "layer:f")
    tr.request = 7
    with tr.span("request"):
        assert other.f(1) == 2
    tr.unwrap_all()
    assert mod.f is orig and other.f is orig
    (inner, outer) = tr.spans
    assert (inner.name, inner.parent, inner.request) == ("layer:f", outer.sid, 7)
    assert outer.parent is None


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


# --- event log -------------------------------------------------------------

def test_event_log_parser_on_recorded_log():
    with open(os.path.join(DATA, "eventlog_tiny.jsonl"), encoding="utf-8") as fh:
        groups = parse_event_log(fh)
    pb = groups["pb-0"]
    assert (pb["jobs"], pb["stages"], pb["tasks"]) == (4, 4, 8)
    assert pb["executor_run_ms"] == 5058
    assert pb["shuffle_write_bytes"] == 7663
    assert pb["shuffle_read_bytes"] == 7663
    assert pb["sched_wait_ms"] == 856
    assert pb["python_worker_ms"] == 3645
    assert pb["input_records"] == 1100
    assert pb["spill_bytes"] == 0
    free = groups[None]
    assert (free["jobs"], free["stages"], free["tasks"]) == (1, 1, 2)
    assert free["sched_wait_ms"] == 17
    assert span_of_group("pb-12") == 12 and span_of_group(None) is None


# --- seeded inputs ---------------------------------------------------------

def test_same_seed_gives_identical_inputs(tmp_path):
    scale = datagen.Scale(0.002)
    a = datagen.write_corpus(11, scale, str(tmp_path / "a"))
    b = datagen.write_corpus(11, scale, str(tmp_path / "b"))
    for name in a:
        assert a[name].equals(b[name])
        fa = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        fb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert fa.equals(fb)
    assert datagen.zipf_requests(11, 500) == datagen.zipf_requests(11, 500)
    assert datagen.distinct_texts(11, 50) == datagen.distinct_texts(11, 50)
    assert datagen.epoch_documents(11, 3, 40, 1000).equals(
        datagen.epoch_documents(11, 3, 40, 1000))
    m1 = datagen.split_mask(11, "knn_split", 100, 0.8)
    assert (m1 == datagen.split_mask(11, "knn_split", 100, 0.8)).all() and m1.sum() == 80


def test_other_seed_gives_other_inputs():
    scale = datagen.Scale(0.002)
    d1 = datagen.documents(datagen.rng(1, "documents"), scale.docs)
    d2 = datagen.documents(datagen.rng(2, "documents"), scale.docs)
    assert not d1.equals(d2)
    assert datagen.zipf_requests(1, 200) != datagen.zipf_requests(2, 200)


def test_request_stream_repeats_and_fresh_texts_do_not():
    reqs = datagen.zipf_requests(3, 400)
    assert 0.5 < datagen.repeat_share(reqs) < 1.0
    fresh = datagen.distinct_texts(3, 300)
    assert datagen.repeat_share(fresh) == 0.0
    for t in fresh[:50]:
        words = t.split()
        assert 2 <= len(words) <= 6 and set(words) <= set(datagen.VOCAB)


# --- response checks -------------------------------------------------------

def test_topk_invariants():
    ok = [{"doc_id": 1, "score": 0.9}, {"doc_id": 2, "score": 0.9}, {"doc_id": 3, "score": 0.1}]
    assert topk_errors(ok, 3, {1, 2, 3}) == []
    assert topk_errors(ok, 2, {1, 2, 3})  # too many rows
    assert topk_errors(ok[:1] * 2, 3, {1})  # duplicate id
    assert topk_errors(list(reversed(ok)), 3, {1, 2, 3})  # ascending scores
    assert topk_errors(ok, 3, {1, 2})  # unknown id


def test_same_rows_ignores_order_and_float_noise():
    assert same_rows([(1, 0.1234567), (2, 0.5)], [(2, 0.5), (1, 0.1234567000001)])
    assert same_rows([(1, float("nan"))], [(1, float("nan"))])
    assert not same_rows([(1, 0.5)], [(1, 0.6)])
    assert not same_rows([(1, 0.5)], [(1, 0.5), (1, 0.5)])


# --- metric names match BENCHMARK.json ---------------------------------------

def _benchmark_json():
    import json

    root = os.path.join(os.path.dirname(__file__), "..", "..")
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _empty_ctx():
    import types

    return types.SimpleNamespace(
        tracer=Tracer(), layer={}, live_rdds=[], op_s=[0.5, 0.7], build_s=1.0, pass_s=3.0,
        warm_s=0.2, ingest_rows=10, ingest_write_s=2.0, store_bytes=3, input_bytes=4,
        failed=0, attempted=2, errors=[], info={},
    )


def test_op_p50_is_the_median_of_every_timed_operation():
    from perfbench import metrics

    ctx = _empty_ctx()
    ctx.op_s = [9.0, 8.0, 1.0, 2.0, 3.0]
    _, e2e, _ = metrics.summarise("recall", ctx, session_s=1.0, peak_rss_mb=1.0)
    assert e2e["op_p50_s"]["value"] == 3.0


@pytest.mark.parametrize("workload", ["recall", "ingest_recall"])
def test_metric_names_and_units_match_benchmark_json(workload):
    from perfbench import metrics

    bench = _benchmark_json()
    assert workload in {w["name"] for w in bench["workloads"]}
    _, e2e, layer = metrics.summarise(workload, _empty_ctx(), session_s=1.0,
                                      peak_rss_mb=100.0, events={})
    assert {k: v["unit"] for k, v in e2e.items()} == {
        m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert {k: v["unit"] for k, v in layer.items()} == {
        m["name"]: m["unit"] for m in bench["per_layer"]}
