"""Self-tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import collect  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import streamgen  # noqa: E402
from collect import Span  # noqa: E402

# --------------------------------------------------------------------------
# Percentile rule
# --------------------------------------------------------------------------


@pytest.mark.parametrize("n,p", [
    (1, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert collect.tail_percentile(n) == p
    if n >= 20:
        assert n * (100 - p) / 100 >= collect.MIN_BEYOND - 1e-6


def test_percentile_matches_numpy_linear_rule():
    rng = np.random.default_rng(0)
    v = rng.random(137).tolist()
    for p in (0, 50, 75, 90, 99, 100):
        assert collect.percentile(v, p) == pytest.approx(float(np.percentile(v, p)))


def test_summarize_reports_median_tail_and_count():
    s = collect.summarize([float(i) for i in range(1, 101)])
    assert s == {"p50": 50.5, "tail_p": 90.0, "tail": pytest.approx(90.1), "n": 100}
    capped = collect.summarize([float(i) for i in range(1, 1001)], max_p=95.0)
    assert capped["tail_p"] == 95.0


def test_per_query_latency_is_steady_across_sample_counts():
    # A short and a long query: the pooled median of 7 + 7 samples lies
    # halfway between them and moves to one side with one more sample;
    # the geomean of per-query medians does not.
    short, long_ = [400.0 + i for i in range(7)], [1000.0 + i for i in range(7)]
    a = collect.per_query_latency({"s": short, "l": long_})
    b = collect.per_query_latency({"s": short + [403.0], "l": long_})
    assert a["p50"] == pytest.approx((403.0 * 1003.0) ** 0.5)
    assert b["p50"] == pytest.approx(a["p50"], rel=1e-3)
    assert a["tail"] == a["p50"]  # too few samples for a tail above p50
    big = collect.per_query_latency({"s": [float(i) for i in range(1, 101)]})
    assert big["tail"] == pytest.approx(90.1)


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("pass", "t", 0.0, 10.0, None, 0),
        Span("query", "t", 1.0, 3.0, 0, 1),
        Span("query", "t", 2.0, 5.0, 0, 2),    # overlaps the first child
        Span("query", "t", 8.0, 12.0, 0, 3),   # runs past the parent
        Span("build", "t", 1.0, 2.0, 1, 4),
    ]
    st = collect.self_times(spans)
    # children cover [1,5] and [8,10] of the parent -> 6 s covered
    assert st["pass"] == pytest.approx(4.0)
    # query 1 loses its build child's second; the others have none
    assert st["query"] == pytest.approx(1.0 + 3.0 + 4.0)
    assert st["build"] == pytest.approx(1.0)


def test_tracer_nests_and_disabled_tracer_records_nothing():
    tr = collect.Tracer(enabled=True)
    with tr.span("pass", "p0"):
        with tr.span("query", "q"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    assert all(s.end >= s.start for s in tr.spans)
    off = collect.Tracer(enabled=False)
    with off.span("pass", "p0") as s:
        assert s is None
    assert off.spans == []


def test_union_length_clips_and_merges():
    assert collect.union_length([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert collect.union_length([], 0, 1) == 0.0


# --------------------------------------------------------------------------
# Status store roll-up
# --------------------------------------------------------------------------


def _stage(submit, complete, **kw):
    st = dict.fromkeys(collect.STAGE_FIELDS, 0)
    st.update(kw, submit_s=submit, complete_s=complete)
    return st


def test_rollup_converts_units_and_measures_driver_gap():
    stages = [
        _stage(1.0, 2.0, run_ms=1500, cpu_ns=2_000_000_000, gc_ms=100, tasks=4,
               shuffle_write_bytes=10, fetch_wait_ms=250),
        _stage(1.5, 3.0, run_ms=500, cpu_ns=500_000_000, tasks=2, shuffle_read_bytes=10,
               spill_bytes=7),
    ]
    r = collect.rollup(stages, 0.0, 4.0)
    assert r["run_s"] == pytest.approx(2.0)
    assert r["cpu_s"] == pytest.approx(2.5)
    assert r["gc_s"] == pytest.approx(0.1)
    assert r["fetch_wait_s"] == pytest.approx(0.25)
    assert (r["tasks"], r["stages"], r["spill_bytes"]) == (6, 2, 7)
    assert r["shuffle_write_bytes"] == r["shuffle_read_bytes"] == 10
    # stages are active over [1, 3] of the [0, 4] window
    assert r["driver_gap_s"] == pytest.approx(2.0)


def test_rollup_of_no_stages_is_all_gap():
    assert collect.rollup([], 0.0, 1.5)["driver_gap_s"] == pytest.approx(1.5)


# --------------------------------------------------------------------------
# Plan walk through AQE query stages (py4j-shaped fakes)
# --------------------------------------------------------------------------


class _Cls:
    def __init__(self, name):
        self.name = name

    def getSimpleName(self):
        return self.name


class _Seq:
    def __init__(self, items):
        self.items = items

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


class _KV:
    def __init__(self, k, v):
        self.k, self.v = k, v

    def _1(self):
        return self.k

    def _2(self):
        return self.v


class _It:
    def __init__(self, items):
        self.items = list(items)

    def hasNext(self):
        return bool(self.items)

    def next(self):
        return self.items.pop(0)


class _Map:
    def __init__(self, d):
        self.d = d

    def iterator(self):
        return _It(_KV(k, v) for k, v in self.d.items())


class _Metric:
    def __init__(self, value, kind):
        self._v, self._k = value, kind

    def value(self):
        return self._v

    def metricType(self):
        return self._k


class _Node:
    def __init__(self, kind, children=(), metrics=None, plan=None, executed=None, subqueries=()):
        self.kind, self.kids, self.m = kind, list(children), metrics or {}
        self._plan, self._executed, self.subs = plan, executed, list(subqueries)

    def getClass(self):
        return _Cls(self.kind)

    def children(self):
        return _Seq(self.kids)

    def subqueries(self):
        return _Seq(self.subs)

    def metrics(self):
        return _Map(self.m)

    def plan(self):
        return self._plan

    def executedPlan(self):
        return self._executed


def _aqe_plan():
    py = _Node("MapInPandasExec", metrics={
        "pythonTotalTime": _Metric(1500, "timing"),
        "pythonBootTime": _Metric(200, "timing"),
        "pythonInitTime": _Metric(300_000_000, "nsTiming"),
        "pythonDataSent": _Metric(1000, "size"),
        "pythonDataReceived": _Metric(400, "size"),
        "numOutputRows": _Metric(9, "sum"),
    }, children=[_Node("FileSourceScanExec")])
    stage = _Node("ShuffleQueryStageExec", plan=_Node("ShuffleExchangeExec", children=[py]))
    sub_py = _Node("MapInPandasExec", metrics={"pythonTotalTime": _Metric(500, "timing")})
    final = _Node("HashAggregateExec", children=[stage],
                  subqueries=[_Node("SubqueryExec", children=[sub_py])])
    # AdaptiveSparkPlanExec is a leaf to a plain children() walk.
    return _Node("AdaptiveSparkPlanExec", executed=final)


def test_plain_children_walk_misses_operators_inside_aqe():
    root = _aqe_plan()
    assert root.children().size() == 0


def test_walk_descends_through_aqe_and_query_stages():
    seen = []
    collect.walk_plan(_aqe_plan(), lambda kind, n: seen.append(kind))
    assert seen.count("MapInPandasExec") == 2
    assert "FileSourceScanExec" in seen and "SubqueryExec" in seen
    assert "ShuffleQueryStageExec" not in seen and "AdaptiveSparkPlanExec" not in seen


def test_plan_metrics_convert_ms_and_ns_before_summing():
    m = collect.plan_metrics(_aqe_plan())
    assert m["python.run_s"] == pytest.approx(2.0)          # 1500 ms + 500 ms
    assert m["python.init_s"] == pytest.approx(0.5)         # 200 ms + 3e8 ns
    assert m["python.bytes_sent"] == 1000
    assert m["python.bytes_recv"] == 400


# --------------------------------------------------------------------------
# Source lag and latency on a small synthetic trace
# --------------------------------------------------------------------------


def test_source_lag_and_latency_on_synthetic_trace():
    published = [(10.0, "f0"), (10.2, "f1"), (10.4, "f2"), (10.6, "f3"), (10.8, "f4")]
    batch_files = {0: ["f0"], 1: ["f1", "f2"], 2: ["f3"]}
    batch_end = {0: 10.3, 1: 10.7, 2: 10.9}
    lags = collect.source_lag(published, batch_end, batch_files)
    # batch 0 ends at 10.3: newest published f1 (10.2), committed f0 (10.0)
    # batch 1 ends at 10.7: newest f3 (10.6), committed f2 (10.4)
    # batch 2 ends at 10.9: newest f4 (10.8), committed f3 (10.6)
    assert [b for b, _ in lags] == [0, 1, 2]
    assert [round(x, 6) for _, x in lags] == [0.2, 0.2, 0.2]
    lat = collect.row_latencies([(10_500.0, [10_000, 10_200]), (10_900.0, [10_600])])
    assert lat == [500.0, 300.0, 300.0]


def test_lag_growth_is_detected_only_when_it_grows():
    steady = [0.2, 0.4, 0.2, 0.4, 0.2, 0.4, 0.2, 0.4, 0.2]
    growing = [0.2, 0.4, 0.6, 1.0, 1.5, 2.0, 2.6, 3.2, 3.9]
    assert not collect.lag_grew(steady, slack_s=1.0)
    assert collect.lag_grew(growing, slack_s=1.0)


def test_committed_files_reads_plain_and_compact_logs(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    offsets = tmp_path / "offsets"
    offsets.mkdir()

    def entry(path, bid):
        return json.dumps({"path": f"file://{path}", "timestamp": 1, "batchId": bid})

    (log / "9.compact").write_text("v1\n" + entry("/d/a", 0) + "\n" + entry("/d/b", 9) + "\n")
    (log / "10").write_text("v1\n" + entry("/d/c", 10) + "\n")
    (log / "11").write_text("v1\n" + entry("/d/d", 11) + "\n")
    (log / ".10.crc").write_text("x")
    # Query batch 1 ran without new files (log offset unchanged), so
    # query batch ids and source log offsets part ways after it.
    for bid, end in ((0, 0), (1, 0), (2, 10), (3, 11)):
        (offsets / str(bid)).write_text(
            'v1\n{"batchWatermarkMs":0,"batchTimestampMs":1,"conf":{}}\n'
            + json.dumps({"logOffset": end}) + "\n")
    (offsets / ".3.crc").write_text("x")
    assert collect.committed_files(str(tmp_path)) == {0: ["a"], 2: ["b", "c"], 3: ["d"]}


# --------------------------------------------------------------------------
# Generators and the stream oracle
# --------------------------------------------------------------------------


def test_datagen_is_a_function_of_the_seed():
    names = ["orders", "lineitem", "documents"]
    a = datagen.tables(7, names, 0.0005, 30)
    b = datagen.tables(7, names, 0.0005, 30)
    c = datagen.tables(8, names, 0.0005, 30)
    assert set(a) == set(names)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert sorted(a["documents"]["doc_id"].to_pylist()) == list(range(30))
    with pytest.raises(ValueError):
        datagen.tables(7, ["embeddings"])


def test_declared_metrics_are_unique_and_cover_the_runs():
    e2e, layer = run.metric_spec(False), run.metric_spec(True)
    names = [m["name"] for m in e2e + layer]
    assert len(names) == len(set(names))
    assert {"setup_s", "pass_s", "latency_p50_ms", "drain_eps"} <= {m["name"] for m in e2e}
    assert {"setup.cold_s", "python.run_s", "queries.build_s"} <= {m["name"] for m in layer}


def test_stream_is_seeded_skewed_and_out_of_order_within_bound():
    p = dict(streamgen.STREAM, rate_eps=20_000, users=1000)
    s1, s2 = streamgen.Stream(3, p), streamgen.Stream(3, p)
    t1, t2 = s1.next_file(1_000_000), s2.next_file(1_000_000)
    assert t1.equals(t2)
    vals = [json.loads(v) for v in t1.column("value").to_pylist()]
    assert all(v["created_ms"] == 1_000_000 for v in vals)
    users = np.array([v["user_id"] for v in vals])
    top = np.bincount(users).max()
    assert top > 5 * len(users) / p["users"]          # Zipf head
    ev_ms = t1.column("timestamp").cast("int64").to_numpy() // 1000
    late = 1_000_000 - ev_ms
    assert late.min() >= 0 and late.max() <= p["ooo_max_ms"]
    assert 0 < (late > 0).mean() < 0.1
    due = streamgen.due_times(3, 1_000_000, 60, 200)
    assert due == streamgen.due_times(3, 1_000_000, 60, 200)
    assert due != streamgen.due_times(4, 1_000_000, 60, 200)
    assert all(a <= b for a, b in zip(due, due[1:]))
    assert 1_000_000 < due[0] and due[-1] <= 1_060_000
    assert 250 < len(due) < 350                        # 300 expected


def test_stream_oracle_counts_missing_and_wrong_keys(tmp_path):
    s = streamgen.Stream(5, dict(streamgen.STREAM, users=50))
    paths = []
    for i in range(3):
        streamgen.publish(s.next_file(1_700_000_000_000 + 4000 * i), str(tmp_path), f"f{i}.parquet")
        paths.append(str(tmp_path / f"f{i}.parquet"))
    exp = oracle.stream_expected(paths, 10_000)
    assert sum(n for n, _, _ in exp.values()) == 3 * s.per_file
    assert oracle.stream_mismatches(dict(exp), exp) == 0
    bad = dict(exp)
    k = next(iter(bad))
    bad[k] = (bad[k][0] + 1, bad[k][1], bad[k][2])
    bad.pop(next(k2 for k2 in exp if k2 != k))
    assert oracle.stream_mismatches(bad, exp) == 2
