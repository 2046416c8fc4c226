"""Tests for the benchmark's own code. Run with
``python3 -m pytest perfbench/tests -q`` from the repository root."""

from collections import Counter

import pytest

from perfbench.measure import (SparkCounters, Span, Tracer, aggregate_stages,
                               quantile, samples_beyond, self_times, tail)
from perfbench.querygen import (SHAPE_WEIGHTS, SHAPES, QueryStream,
                                bloom_sets, rank_terms, to_query)

TERMS = [f"t{i}" for i in range(500)]


def test_query_stream_deterministic_per_seed():
    a = QueryStream(TERMS, 7).take(200)
    b = QueryStream(TERMS, 7).take(200)
    c = QueryStream(TERMS, 8).take(200)
    assert a == b
    assert a != c


def test_query_stream_shape_mix_and_terms():
    specs = QueryStream(TERMS, 3).take(20_000)
    counts = Counter(shape for shape, _ in specs)
    for shape, w in zip(SHAPES, SHAPE_WEIGHTS):
        assert abs(counts[shape] / len(specs) - w) < 0.015, shape
    arity = {"term": 1, "or2": 2, "and2": 2, "or3": 3}
    for shape, terms in specs:
        assert len(terms) == arity[shape]
        assert len(set(terms)) == len(terms)
    # Zipf over df rank: the top-ranked term is drawn most often
    freq = Counter(t for _, ts in specs for t in ts)
    assert freq.most_common(1)[0][0] == TERMS[0]
    assert freq[TERMS[0]] > freq[TERMS[10]] > freq[TERMS[200]]


def test_forced_shape_and_query_objects():
    qs = QueryStream(TERMS, 1)
    for shape in SHAPES:
        spec = qs.spec(shape)
        assert spec[0] == shape
        q = to_query(spec)
        must, should = bloom_sets(spec)
        if shape == "term":
            assert type(q).__name__ == "TermQuery" and should == set(spec[1])
        elif shape == "and2":
            assert [c.occur for c in q.clauses] == ["MUST", "MUST"]
            assert must == set(spec[1]) and not should
        else:
            assert {c.occur for c in q.clauses} == {"SHOULD"}


def test_rank_terms_orders_by_df_then_term():
    assert rank_terms({"b": 3, "a": 3, "c": 9, "d": 1}) == ["c", "a", "b", "d"]


def test_quantile_interpolates():
    assert quantile([4, 1, 3, 2], 0.5) == 2.5
    assert quantile([1, 2, 3, 4, 5], 0.0) == 1
    assert quantile([1, 2, 3, 4, 5], 1.0) == 5


@pytest.mark.parametrize("n,expected", [
    (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (1000, 99.0), (9999, 99.0), (10_000, 99.9),
])
def test_tail_needs_ten_samples_beyond(n, expected):
    got = tail(list(range(n)))
    if expected is None:
        assert got is None
    else:
        assert got[0] == expected
        assert samples_beyond(n, expected) >= 10


def test_samples_beyond_counts_strictly_above():
    assert samples_beyond(100, 90.0) == 10
    assert samples_beyond(99, 90.0) == 9
    assert samples_beyond(1000, 99.0) == 10


def test_self_times_subtract_union_of_children():
    spans = [
        Span(0, "call", None, 1, 0.0, 10.0),
        Span(1, "plan", 0, 1, 1.0, 3.0),
        Span(2, "exec", 0, 1, 2.0, 5.0),    # overlaps plan: counted once
        Span(3, "tail", 0, 1, 8.0, 12.0),   # clipped to the parent
        Span(4, "leaf", 2, 1, 2.5, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_spans_and_inherits_op():
    tr = Tracer()
    with tr.span("call", op=5):
        with tr.span("plan"):
            pass
    call, plan = tr.spans
    assert plan.parent == call.id and plan.op == 5
    assert call.end >= plan.end >= plan.start >= call.start
    assert [r["name"] for r in tr.to_json()] == ["call", "plan"]


def test_aggregate_stages_sums_and_converts_units():
    out = aggregate_stages([
        {"tasks": 3, "failed_tasks": 0, "input_bytes": 10,
         "shuffle_read_bytes": 0, "shuffle_write_bytes": 7,
         "cpu_ns": 2_000_000_000, "run_ms": 1500},
        {"tasks": 2, "failed_tasks": 1, "input_bytes": 0,
         "shuffle_read_bytes": 7, "shuffle_write_bytes": 0,
         "cpu_ns": 500_000_000, "run_ms": 500},
    ])
    assert out == {"stages": 2, "tasks": 5, "failed_tasks": 1,
                   "input_bytes": 10, "shuffle_read_bytes": 7,
                   "shuffle_write_bytes": 7, "executor_cpu_s": 2.5,
                   "executor_run_s": 2.0}


def test_counters_on_two_stage_job(spark):
    from pyspark.sql import functions as F

    counters = SparkCounters(spark.sparkContext)
    tracer = Tracer(spark.sparkContext)
    mark = counters.watermark()
    with tracer.span("groupby"):
        rows = (spark.range(0, 20_000, numPartitions=3)
                .groupBy((F.col("id") % 5).alias("k")).count().collect())
    assert sorted(r["count"] for r in rows) == [4000] * 5
    c = counters.since(mark)
    assert c["jobs"] >= 1
    assert c["stages"] == 2           # map side + reduce side
    assert c["tasks"] == 3 + 2        # 3 input partitions, 2 shuffle
    assert c["failed_tasks"] == 0
    assert c["shuffle_write_bytes"] > 0
    assert c["shuffle_read_bytes"] == c["shuffle_write_bytes"]
    assert c["executor_run_s"] >= 0 and c["executor_cpu_s"] >= 0
    assert c["task_skew"] >= 1.0
    # nothing ran since: the next window is empty
    assert counters.since(counters.watermark())["jobs"] == 0
