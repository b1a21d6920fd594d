"""Scale-pattern operators: salted join row-identity and sketch-aggregate
error bounds (these back the oracle-less registry entries)."""

from __future__ import annotations

import pyspark.sql.functions as F

from stream_processing_platform_spark.registry import queries
from stream_processing_platform_spark.tables import load_table


def test_approx_distinct_within_error_bound(spark, sf_dir):
    approx = {
        r["event_type"]: r["approx_users"]
        for r in queries()["q_approx_distinct"](spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(1, 0.05 * n), (k, approx[k], n)


def test_approx_percentile_within_error_bound(spark, sf_dir):
    """The sketch quantiles must track the exact ones: with accuracy
    10000 the rank error is ~n/10000 rows, which on these price
    distributions keeps the value within a small relative band."""
    from stream_processing_platform_spark.operators.percentiles import (
        approx_percentiles,
    )

    # the one-pass raw-sketch operator (the registered query is the
    # sketch-then-verify EXACT form since r10 — pinned equal to the
    # distributed exact path in test_sketch_verified_percentiles_exact)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    approx = {
        r["l_returnflag"]: (r["median_price"], r["p95_price"], r["p99_price"])
        for r in approx_percentiles(
            li,
            "l_extendedprice",
            {"median_price": 0.5, "p95_price": 0.95, "p99_price": 0.99},
            ["l_returnflag"],
        ).collect()
    }
    # per-flag exact baseline computed inline (the registered
    # q_percentiles now groups by the finer (flag, year) composite key)
    cents = F.round(F.col("l_extendedprice") * 100, 0)
    exact = {
        r["l_returnflag"]: (r["median_price"], r["p95_price"], r["p99_price"])
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile(cents, F.lit(0.5)) / 100, 2).alias("median_price"),
            F.round(F.percentile(cents, F.lit(0.95)) / 100, 2).alias("p95_price"),
            F.round(F.percentile(cents, F.lit(0.99)) / 100, 2).alias("p99_price"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k, ex in exact.items():
        for a, e in zip(approx[k], ex):
            assert abs(a - e) <= max(0.05, 0.02 * abs(e)), (k, approx[k], ex)


def test_salted_join_row_identical_to_plain_join(spark, sf_dir):
    from stream_processing_platform_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    salted = salted_join(li, o, ["l_orderkey"], salt_buckets=4)
    plain = li.join(o, "l_orderkey")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_as_of_join_directions_tolerance_and_ties(spark):
    """Backward picks the latest right row at-or-before the left ts,
    forward the earliest at-or-after; the tolerance bounds the gap; a
    tie on the right ts goes to the largest remaining right column; a
    left row with no match is dropped. Both sides derive from one
    DataFrame (the self-join shape q_join_asof uses)."""
    import pytest

    from stream_processing_platform_spark.operators.joins import as_of_join

    e = spark.createDataFrame(
        [
            (1, "a", 100, "p"), (2, "a", 90, "c"), (3, "a", 90, "c"),
            (4, "a", 30, "c"), (5, "b", 10, "p"), (6, "b", 20, "c"),
            (7, "a", 200, "p"),
        ],
        "event_id long, user_id string, ts long, kind string",
    )
    p = e.where(F.col("kind") == "p").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("p_ts")
    )
    c = e.where(F.col("kind") == "c").select(
        F.col("event_id").alias("cid"), "user_id", F.col("ts").alias("c_ts")
    )

    def run(**kw):
        out = as_of_join(p, c, ["user_id"], "p_ts", "c_ts", **kw)
        assert out.columns == ["pid", "user_id", "p_ts", "cid", "c_ts"]
        return {r.pid: (r.cid, r.c_ts) for r in out.collect()}

    assert run() == {1: (3, 90), 7: (3, 90)}
    assert run(tolerance_ms=50) == {1: (3, 90)}
    assert run(direction="forward") == {5: (6, 20)}
    with pytest.raises(ValueError):
        run(direction="sideways")


def test_exact_percentiles_refuses_unbounded_buffer(spark, sf_dir):
    """The composite-key guard (operators/percentiles.py): an exact
    percentile with no grouping key buffers the whole input in one agg
    buffer — refused unless the caller explicitly opts in."""
    import pytest

    from stream_processing_platform_spark.operators.percentiles import exact_percentiles

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    with pytest.raises(ValueError, match="approx_percentiles"):
        exact_percentiles(li, "l_extendedprice", {"median": 0.5}, [])
    # explicit opt-in works (input provably small at test SF)
    [row] = exact_percentiles(
        li, "l_extendedprice", {"median": 0.5}, [], allow_global=True
    ).collect()
    assert row["n"] > 0 and row["median"] > 0


def test_heavy_hitters_exact_under_eviction(spark):
    """Misra-Gries candidate generation must survive eviction pressure:
    a corpus whose vocabulary (50k rare items) vastly exceeds the
    counter budget (k=100) still yields EXACTLY the true heavy-hitter
    set with exact counts, because MG candidates are a guaranteed
    superset and the verify pass recounts them exactly."""
    from stream_processing_platform_spark.operators.sketches import heavy_hitters

    n_rare = 50_000
    # 3 heavy items at ~4%/2%/1.2% of the stream + 50k singletons.
    heavy = spark.range(0, 4000).select(
        F.concat(F.lit("hh_"), (F.col("id") % 3 * 0 + 0).cast("string")).alias("item")
    )
    heavy2 = spark.range(0, 2000).select(F.lit("hh_1").alias("item"))
    heavy3 = spark.range(0, 1200).select(F.lit("hh_2").alias("item"))
    rare = spark.range(0, n_rare).select(
        F.concat(F.lit("rare_"), F.col("id").cast("string")).alias("item")
    )
    stream = heavy.union(heavy2).union(heavy3).union(rare).repartition(8)

    got = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(stream, "item", phi_denom=50).collect()
    }
    total = 4000 + 2000 + 1200 + n_rare  # 57,200; threshold > 1144
    expect = {k: v for k, v in {"hh_0": 4000, "hh_1": 2000, "hh_2": 1200}.items()
              if v * 50 > total}
    assert got == expect  # hh_2 (1200 > 1144) included, nothing spurious


def test_enforce_expectations_drop_and_fail(spark):
    import pytest
    from pyspark.sql import functions as F

    from stream_processing_platform_spark.operators.quality import (
        enforce_expectations,
        expectation_report,
    )

    df = spark.createDataFrame(
        [(1, 5.0, "a"), (2, None, "a"), (3, -1.0, "b"), (4, 7.0, "zz"), (1, 8.0, "a")],
        "id bigint, v double, cat string",
    )
    rules = {
        "v_not_null": F.col("v").isNotNull(),
        "v_nonneg": F.col("v") >= 0,
        "cat_ok": F.col("cat").isin("a", "b"),
    }
    rep = {r.rule: (r.n_violations, r.passed) for r in
           expectation_report(df, rules, unique_keys=["id"]).collect()}
    # null v violates BOTH v rules (null never silently passes)
    assert rep["v_not_null"] == (1, False)
    assert rep["v_nonneg"] == (2, False)
    assert rep["cat_ok"] == (1, False)
    assert rep["unique(id)"] == (1, False)

    kept = enforce_expectations(df, rules, mode="drop").collect()
    assert sorted(r.id for r in kept) == [1, 1]  # only the two clean rows
    with pytest.raises(ValueError, match="expectation failure: 3"):
        enforce_expectations(df, rules, mode="fail")
    clean = spark.createDataFrame([(1, 1.0, "a")], "id bigint, v double, cat string")
    assert enforce_expectations(clean, rules, mode="fail").count() == 1


def test_streaming_expectations_gate(spark, tmp_path):
    """Streaming DLT-style gate: violating rows are dropped per batch,
    the report records per-batch violation counts."""
    from pyspark.sql import functions as F

    from stream_processing_platform_spark.operators.quality import (
        streaming_expectations_sink,
    )
    from stream_processing_platform_spark.sources.streaming import file_source

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -2.0), (4, 9.0)], "id bigint, v double"
    ).coalesce(1).write.parquet(str(src / "b0"))
    stream = file_source(
        spark, str(src / "b0"), "id bigint, v double"
    )
    q = streaming_expectations_sink(
        stream,
        {"v_not_null": F.col("v").isNotNull(), "v_nonneg": F.col("v") >= 0},
        clean_path=str(tmp_path / "clean"),
        report_path=str(tmp_path / "report"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    clean = spark.read.parquet(str(tmp_path / "clean"))
    assert sorted(r.id for r in clean.collect()) == [1, 4]
    rep = {r.rule: r.n_violations for r in spark.read.parquet(str(tmp_path / "report")).collect()}
    assert rep == {"v_not_null": 1, "v_nonneg": 2}


def test_distributed_percentiles_hand_computed_and_global_ok(spark):
    """Rank-select interpolation: cents [100,200,300,400], q=.5 ->
    h=1.5 -> 250 -> floor+.5 = 250; q=.95 -> h=2.85 -> 385. A lone
    group passes through; and UNLIKE exact_percentiles, a global
    (empty) grouping is allowed — it is a sort, not a buffer."""
    from stream_processing_platform_spark.operators.percentiles import (
        exact_percentiles_distributed,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("b", 9.0)],
        "k string, v double",
    )
    got = {
        r.k: (r.med, r.p95, r.n)
        for r in exact_percentiles_distributed(
            df, "v", {"med": 0.5, "p95": 0.95}, ["k"]
        ).collect()
    }
    assert got["a"] == (250, 385, 4)
    assert got["b"] == (900, 900, 1)

    [g] = exact_percentiles_distributed(df, "v", {"med": 0.5}, []).collect()
    assert g.med == 300 and g.n == 5  # global group: h=2 -> exactly 300


def test_mode_impute_tie_break_and_fallback(spark):
    """Tie on counts -> largest value wins (deterministic); a key with
    no observed value falls back to the sentinel; non-null rows pass
    through unchanged."""
    from stream_processing_platform_spark.operators.quality import mode_impute

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, None),      # tie a=1, b=1 -> 'b'
         (2, None), (2, None),               # all missing -> fallback
         (3, "z")],
        "k long, v string",
    )
    rows = {(r.k, r.v): (r.v_filled, r.was_imputed)
            for r in mode_impute(df, "v", ["k"]).collect()}
    assert rows[(1, None)] == ("b", True)
    assert rows[(1, "a")] == ("a", False)
    assert rows[(2, None)] == ("UNKNOWN", True)
    assert rows[(3, "z")] == ("z", False)


def test_k_anonymize_suppression_and_pseudonym_consistency(spark):
    """Sub-k groups suppress BOTH quasi columns and mask the group
    size; pseudonyms are consistent across frames (joins line up) and
    k < 2 is rejected."""
    import pytest

    from stream_processing_platform_spark.operators.privacy import (
        k_anonymize,
        pseudonymize,
    )

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "a", "x"), (4, "b", "y")],
        "id long, q1 string, q2 string",
    )
    rows = {r.id: (r.q1, r.q2, r.group_n)
            for r in k_anonymize(df, ["q1", "q2"], k=3, group_col="group_n")
            .select(pseudonymize("id", "s").alias("p"), "id", "q1", "q2", "group_n")
            .collect()}
    assert rows[1] == ("a", "x", 3) and rows[4] == ("*", "*", -1)

    a = df.select(pseudonymize("id", "s").alias("p"), "id")
    b = spark.createDataFrame([(1,), (4,)], "id long").select(
        pseudonymize("id", "s").alias("p"), F.col("id").alias("id2")
    )
    assert a.join(b, "p").count() == 2  # consistent pseudonyms join

    with pytest.raises(ValueError, match="k >= 2"):
        k_anonymize(df, ["q1"], k=1)


def test_sketch_verified_percentiles_exact(spark, sf_dir):
    """sketch_verified_percentiles must equal the distributed exact
    rank-select path ROW-FOR-ROW (both are exact — the sketch only
    prunes; r10, the q_approx_percentile oracle conversion), including
    on a grouping with tiny groups where the sketch stores every value
    verbatim."""
    from stream_processing_platform_spark.operators.percentiles import (
        exact_percentiles_distributed,
        sketch_verified_percentiles,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    probs = {"med": 0.5, "p95": 0.95, "p99": 0.99}
    for keys in (["l_returnflag"], ["l_returnflag", "l_linestatus"]):
        got = {
            tuple(r[k] for k in keys): (r["med"], r["p95"], r["p99"], r["n"])
            for r in sketch_verified_percentiles(
                li, "l_extendedprice", probs, keys
            ).collect()
        }
        want = {
            tuple(r[k] for k in keys): (r["med"], r["p95"], r["p99"], r["n"])
            for r in exact_percentiles_distributed(
                li, "l_extendedprice", probs, keys
            ).collect()
        }
        assert got == want
    assert all(v >= 0 for vals in got.values() for v in vals)  # no -1 sentinel
