"""Relational-core queries: the batch form of every SURVEY.md §2 operator
plus the join/sort/set/window-function surface Spark adds natively
(SURVEY.md §2.9-2.10 declare these in the inventory on purpose).

Each query pairs a DataFrame program with its ANSI-SQL twin for the duckdb
oracle. Conventions (see registry.py): identical aliases both sides,
doubles rounded, timestamps exchanged as epoch ms/seconds BIGINT.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_platform_spark.operators import joins, topk, windows_batch
from stream_processing_platform_spark.operators.dedup import dedup_keep_first
from stream_processing_platform_spark.registry import query
from stream_processing_platform_spark.tables import load_table


def _geo_mean_of_series(v: pd.Series) -> float:
    """Grouped-agg pandas UDF body for q_udaf_geomean. Module-level with a
    real ``pd.Series -> float`` signature so ``pandas_udf`` infers the
    GROUPED_AGG eval type from type hints (PandasUDFType is deprecated in
    PySpark 4; postponed annotations resolve because ``pd`` is a module
    global)."""
    import numpy as np

    return float(np.exp(np.log(v.to_numpy()).mean()))


# --------------------------------------------------------------------------
# TPC-H-style analytical queries (aggregation + join benchmarks)
# --------------------------------------------------------------------------

@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           floor(sum(l_quantity) * 10000.0 / count(*) + 0.5) / 10000.0  AS avg_qty,
           floor(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100.0
                 / count(*) + 0.5) / 10000.0                            AS avg_price,
           floor(sum(CAST(round(l_discount * 100) AS BIGINT)) * 100.0
                 / count(*) + 0.5) / 10000.0                            AS avg_disc,
           CAST(count(*) AS BIGINT)                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1 pricing summary: scan-heavy grouped aggregation "
    "(MapOperator + AggregateOperator batch form; flagship). The three "
    "averages follow the exact-integer-units + floor(x+0.5) doctrine: "
    "quantities are integer-valued (sum exact), price/discount sum as "
    "integer cents (BIGINT — exact at any scale in both engines), and "
    "the 4dp quotient rounds with pure IEEE ops, dodging both "
    "summation-order drift and the cross-engine round() half-boundary "
    "split (CLAUDE.md).",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cnt = F.count("*")
    price_cents = F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
    disc_cents = F.sum(F.round(F.col("l_discount") * 100, 0).cast("long"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            (F.floor(F.sum("l_quantity") * 10_000.0 / cnt + 0.5) / 10_000.0).alias(
                "avg_qty"
            ),
            (F.floor(price_cents * 100.0 / cnt + 0.5) / 10_000.0).alias("avg_price"),
            (F.floor(disc_cents * 100.0 / cnt + 0.5) / 10_000.0).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q03_shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(epoch_ms(o.o_orderdate) AS BIGINT) AS o_orderdate_ms
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    description="TPC-H Q3: 3-way join + agg + top-k (join reordering / "
    "broadcast of the filtered customer side).",
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    agg = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(l.l_orderkey.alias("o_orderkey"), "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            windows_batch.epoch_ms(F.col("o_orderdate")).alias("o_orderdate_ms"),
        )
    )
    return topk.top_k_global(agg, [F.col("revenue").desc(), F.col("o_orderkey").asc()], 10)


@query(
    "q05_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    description="TPC-H Q5-style 6-way star join: broadcast dims, shuffle "
    "only the fact tables.",
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Stateless row operators (§2.3) + scalar functions (§2.8)
# --------------------------------------------------------------------------

@query(
    "q_filter_threshold",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE value > 300 AND event_type IN ('click', 'view')
    """,
    description="FilterOperator: pushdown-eligible predicate "
    "(taskmanager/operators/stateless.py:48-79).",
)
def q_filter_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    from stream_processing_platform_spark.operators.stateless import filter_rows

    return filter_rows(
        e, (F.col("value") > 300) & F.col("event_type").isin("click", "view")
    ).select("event_id", "user_id", "event_type", "value")


@query(
    "q_map_scalar",
    oracle="""
    SELECT c_custkey,
           upper(c_name)                                    AS name_upper,
           lower(c_mktsegment)                              AS segment_lower,
           concat(c_mktsegment, '#', CAST(c_custkey AS VARCHAR)) AS seg_key,
           round(c_acctbal + 1000.5, 2)                     AS boosted_bal,
           round(abs(c_acctbal), 2)                         AS abs_bal,
           length(c_name)                                   AS name_len,
           substr(c_name, 1, 8)                             AS name_prefix
    FROM customer
    """,
    description="MapOperator with a scalar-function battery "
    "(upper/lower/concat/abs/length/substr — SURVEY §2.8).",
)
def q_map_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.concat(F.col("c_mktsegment"), F.lit("#"), F.col("c_custkey").cast("string")).alias(
            "seg_key"
        ),
        # +1000.5 keeps the value on a 2-decimal grid — round(x*1.1, 2) can
        # land on a .005 boundary where Spark (HALF_UP) and duckdb disagree.
        F.round(F.col("c_acctbal") + 1000.5, 2).alias("boosted_bal"),
        F.round(F.abs(F.col("c_acctbal")), 2).alias("abs_bal"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
    )


@query(
    "q_flatmap_wordcount",
    oracle="""
    SELECT word, CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
        FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    HAVING count(*) > 5
    """,
    description="Canonical word count (examples/word_count.py:69-75): "
    "flatMap split → lower → groupBy word → count → filter>5. The minimum "
    "end-to-end slice from SURVEY §7.",
)
def q_flatmap_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.stateless import flat_map_explode

    d = load_table(spark, sf_dir, "documents")
    words = flat_map_explode(d, "word", F.split(F.lower("text"), r"\s+")).where(
        F.col("word") != ""
    )
    return words.groupBy("word").agg(F.count("*").alias("n")).where(F.col("n") > 5)


@query(
    "q_case_when_anomaly",
    oracle="""
    SELECT CASE WHEN value > 450 THEN 'CRITICAL'
                WHEN value > 350 THEN 'ANOMALY'
                ELSE 'NORMAL' END AS label,
           CAST(count(*) AS BIGINT) AS n,
           floor(sum(round(value * 1000000)) / (100.0 * count(*)) + 0.5) / 10000.0
               AS avg_value
    FROM events
    GROUP BY 1
    """,
    description="GUI anomaly op (gui/app_gcp.py:351-367): threshold "
    "labeling via when/otherwise + grouped stats. The average follows "
    "the exact-integer-micro-units + floor(x+0.5) doctrine — "
    "round(avg(double)) is the boundary class that flipped "
    "q_agg_running at sf0.1.",
)
def q_case_when_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    label = (
        F.when(F.col("value") > 450, "CRITICAL")
        .when(F.col("value") > 350, "ANOMALY")
        .otherwise("NORMAL")
    )
    micro = F.sum(F.round(F.col("value") * 1_000_000, 0))
    return e.groupBy(label.alias("label")).agg(
        F.count("*").alias("n"),
        (F.floor(micro / (100.0 * F.count("*")) + 0.5) / 10_000.0).alias("avg_value"),
    )


@query(
    "q_json_extract",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
    """,
    description="JSON payload parsing (from_json/get_json_object — the "
    "reference's json.loads map, examples/windowed_aggregation.py:41-48).",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select("event_id", k.alias("k")).where(F.col("k") >= 50)


@query(
    "q_datetime_funcs",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER)  AS y,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           strftime(o_orderdate, '%Y-%m')      AS ym,
           CAST(count(*) AS BIGINT)            AS n_orders,
           round(sum(o_totalprice), 2)         AS total
    FROM orders
    GROUP BY 1, 2, 3
    """,
    description="Datetime scalar functions (epoch-ms handling of the "
    "reference → year/month/date_format).",
)
def q_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        )
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand)                          AS brand_upper,
           replace(p_type, ' ', '_')               AS type_key,
           string_split(p_type, ' ')[1]            AS type_head,
           CAST(length(p_name) AS INTEGER)         AS name_len,
           CASE WHEN contains(p_type, 'BRUSHED') THEN 1 ELSE 0 END AS is_brushed,
           lpad(CAST(p_size AS VARCHAR), 3, '0')   AS size_padded
    FROM part
    """,
    description="String scalar-function battery "
    "(replace/split/contains/lpad — SURVEY §2.8).",
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_key"),
        F.split("p_type", " ").getItem(0).alias("type_head"),
        F.length("p_name").cast("int").alias("name_len"),
        F.when(F.col("p_type").contains("BRUSHED"), 1).otherwise(0).alias("is_brushed"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
    )


# --------------------------------------------------------------------------
# Aggregations (§2.4)
# --------------------------------------------------------------------------

@query(
    "q_agg_running",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT)  AS n,
           floor(sum(round(value * 1000000)) / 10000.0 + 0.5) / 100.0 AS sum_value,
           floor(sum(round(value * 1000000)) / (100.0 * count(*)) + 0.5) / 10000.0
               AS avg_value,
           round(min(value), 2)      AS min_value,
           round(max(value), 2)      AS max_value
    FROM events
    GROUP BY user_id
    """,
    description="AggregateOperator (stateful.py:265-342): per-key "
    "sum/count/avg/min/max — final state of the running aggregate. "
    "Sum/avg accumulate exact integer micro-units (round(avg(double)) "
    "is summation-order-dependent — flipped the 4th decimal at sf0.1), "
    "and the final quotients round via floor(x + 0.5): pure IEEE ops, "
    "bit-identical cross-engine, where round() itself diverges on "
    "half-boundary quotients (Spark rounds the shortest decimal repr "
    "via BigDecimal HALF_UP; duckdb rounds the binary double).",
)
def q_agg_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    micro = F.sum(F.round(F.col("value") * 1_000_000, 0))
    return e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        (F.floor(micro / 10_000.0 + 0.5) / 100.0).alias("sum_value"),
        (F.floor(micro / (100.0 * F.count("*")) + 0.5) / 10_000.0).alias("avg_value"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


@query(
    "q_agg_global",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)          AS n_rows,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           round(sum(l_extendedprice), 2)    AS sum_price,
           floor(sum(l_quantity) * 10000.0 / count(*) + 0.5) / 10000.0 AS avg_qty,
           round(min(l_extendedprice), 2)    AS min_price,
           round(max(l_extendedprice), 2)    AS max_price
    FROM lineitem
    """,
    description="Global (keyless) aggregate — partial+final agg split, "
    "single-row result.",
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        (F.floor(F.sum("l_quantity") * 10_000.0 / F.count("*") + 0.5) / 10_000.0).alias(
            "avg_qty"
        ),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@query(
    "q_count_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT)                AS n_events
    FROM events
    GROUP BY event_type
    """,
    description="Distinct aggregation (not in reference; SURVEY §2.4 gap "
    "— expand-based distinct agg in Spark).",
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n_events")
    )


@query(
    "q_rollup_revenue",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    description="ROLLUP grouping sets (not in reference; Spark-native "
    "multi-level aggregation).",
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_customers",
            "total_bal",
        )
    )


@query(
    "q_cube_orders",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(count(*) AS BIGINT)         AS n,
           round(sum(o_totalprice), 2)      AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    description="CUBE grouping sets over order status × priority.",
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@query(
    "q_pivot_event_counts",
    oracle="""
    SELECT user_id,
           CAST(count(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS n_click,
           CAST(count(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS n_view,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS n_signup,
           CAST(count(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS n_error
    FROM events
    GROUP BY user_id
    """,
    description="Pivot (wide aggregation) of event-type counts per user.",
)
def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    piv = e.groupBy("user_id").pivot("event_type", types).count()
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )


@query(
    "q_unpivot_event_counts",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    t(event_type) AS (VALUES ('click'), ('view'), ('purchase'), ('signup'), ('error')),
    c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2)
    SELECT u.user_id, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
    FROM u CROSS JOIN t
    LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
    """,
    description="Unpivot (melt): the wide per-user event-count matrix "
    "back to long (user_id, event_type, n) rows — pivot's inverse, with "
    "the zero cells the wide form materialized. Narrow transform per "
    "row after the pivot's single shuffle.",
)
def q_unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    wide = e.groupBy("user_id").pivot("event_type", types).count()
    wide = wide.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types],
    )
    return wide.unpivot(
        ["user_id"], [f"n_{t}" for t in types], "event_type", "n"
    ).withColumn("event_type", F.expr("substring(event_type, 3)"))


# --------------------------------------------------------------------------
# Joins (§2.5) — full matrix the reference lacks, plus its interval join
# --------------------------------------------------------------------------

@query(
    "q_join_inner",
    oracle="""
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    description="Inner equi-join orders→customer→nation with broadcast dim.",
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spend
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
    description="Left outer join preserving order-less customers.",
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias("total_spend"),
        )
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
    description="Left-semi join: customers having at least one URGENT order.",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return joins.semi_join(
        c, o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
    ).select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    description="Left-anti join: customers with no orders at all.",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return joins.anti_join(
        c, o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
    ).select("c_custkey", "c_name")


@query(
    "q_join_interval",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id,
           CAST(epoch_ms(b.ts) - epoch_ms(a.ts) AS BIGINT) AS delta_ms
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.event_type = 'purchase'
     AND a.event_type = 'click'
     AND epoch_ms(b.ts) >= epoch_ms(a.ts)
     AND epoch_ms(b.ts) <= epoch_ms(a.ts) + 1800000
    """,
    description="JoinOperator (stateful.py:345-465) batch twin: interval "
    "equi-join, purchases within 30 min after a click, once per pair.",
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = windows_batch.with_epoch_ms(load_table(spark, sf_dir, "events"), "ts")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts_ms").alias("click_ms")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts_ms").alias("purchase_ms")
    )
    joined = joins.interval_join(
        clicks, purchases, ["user_id"], "click_ms", "purchase_ms", 0, 1_800_000
    )
    return joined.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.col("purchase_ms") - F.col("click_ms")).alias("delta_ms"),
    )


@query(
    "q_join_asof",
    oracle="""
    WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
               WHERE event_type = 'click'),
         ranked AS (
            SELECT p.event_id AS purchase_id, c.event_id AS click_id,
                   CAST(p.ts_ms - c.ts_ms AS BIGINT) AS gap_ms,
                   row_number() OVER (PARTITION BY p.event_id
                                      ORDER BY c.ts_ms DESC, c.event_id DESC) AS rn
            FROM p JOIN c
              ON p.user_id = c.user_id
             AND c.ts_ms <= p.ts_ms AND c.ts_ms >= p.ts_ms - 3600000
         )
    SELECT purchase_id, click_id, gap_ms FROM ranked WHERE rn = 1
    """,
    description="As-of join (backward, 1 h tolerance): each purchase "
    "matched to the latest preceding click. Time-series staple absent "
    "from the reference.",
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = windows_batch.with_epoch_ms(load_table(spark, sf_dir, "events"), "ts")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts_ms").alias("p_ms")
    )
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts_ms").alias("c_ms")
    )
    # tie on c_ms -> larger click_id (the argmax struct is (c_ms, click_id))
    return joins.as_of_join(
        purchases, clicks, ["user_id"], "p_ms", "c_ms", tolerance_ms=3_600_000
    ).select("purchase_id", "click_id", (F.col("p_ms") - F.col("c_ms")).alias("gap_ms"))


_PRICE_BANDS = [
    ("budget", 0.0, 50_000.0),
    ("standard", 50_000.0, 150_000.0),
    ("premium", 150_000.0, 10_000_000.0),
]
_SQL_BANDS = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _PRICE_BANDS)


@query(
    "q_join_range",
    oracle=f"""
    SELECT b.band, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(round(o.o_totalprice * 100)) / 100.0, 2) AS band_revenue
    FROM orders o
    JOIN (VALUES {_SQL_BANDS}) b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
    description="Numeric range (band) join — orders matched to pricing "
    "tiers by o_totalprice ∈ [lo, hi): no equi key exists, so the tiny "
    "band table is broadcast and the plan is a deliberate "
    "BroadcastNestedLoopJoin (fact never shuffles, |fact|×|bands| "
    "comparisons). The operators/joins.range_join docstring covers when "
    "to bucketize into an equi key instead.",
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_PRICE_BANDS, "band string, lo double, hi double")
    joined = joins.range_join(o, bands, "o_totalprice", "lo", "hi")
    return joined.groupBy("band").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum(F.round(F.col("o_totalprice") * 100, 0)) / 100.0, 2).alias(
            "band_revenue"
        ),
    )


# --------------------------------------------------------------------------
# Dedup (§2.6), sorts/limits/top-k/set ops (§2.9), window functions (§2.10)
# --------------------------------------------------------------------------

@query(
    "q_dedup_exact",
    oracle="""
    SELECT user_id, event_type, event_id, round(value, 2) AS value
    FROM (
        SELECT user_id, event_type, event_id, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts ASC, event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    description="Exact dedup keeping the earliest record per "
    "(user, event_type) — deterministic dropDuplicates "
    "(examples/stateful_deduplication.py batch twin).",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return dedup_keep_first(
        e, ["user_id", "event_type"], [F.col("ts").asc(), F.col("event_id").asc()]
    ).select("user_id", "event_type", "event_id", F.round("value", 2).alias("value"))


@query(
    "q_orderby_limit",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    description="Global top-k (TakeOrderedAndProject — no full sort).",
)
def q_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return topk.top_k_global(
        o, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 10
    ).select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "o_orderpriority")


@query(
    "q_topk_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS o_totalprice, CAST(rk AS INTEGER) AS rk
    FROM (
        SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
               row_number() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rk
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rk <= 3
    """,
    description="Per-group top-k via row_number (window function, "
    "SURVEY §2.10).",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(c, o.o_custkey == c.c_custkey)
    return topk.top_k_per_group(
        joined.select("c_mktsegment", "o_orderkey", "o_totalprice"),
        ["c_mktsegment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
        rank_col="rk",
    ).select(
        "c_mktsegment",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.col("rk").cast("int").alias("rk"),
    )


@query(
    "q_set_ops",
    oracle="""
    SELECT 'both' AS tag, user_id FROM
      (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
       INTERSECT
       SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT 'click_only' AS tag, user_id FROM
      (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
       EXCEPT
       SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    """,
    description="Set operators intersect/except/union (SURVEY §2.9 — "
    "absent from reference, native in Spark).",
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("user_id").distinct()
    purchases = e.where(F.col("event_type") == "purchase").select("user_id").distinct()
    both = topk.intersect(clicks, purchases).select(F.lit("both").alias("tag"), "user_id")
    only = topk.minus(clicks, purchases).select(F.lit("click_only").alias("tag"), "user_id")
    return topk.union_all(both, only)


@query(
    "q_window_rank",
    oracle="""
    SELECT n_name, s_name, round(s_acctbal, 2) AS s_acctbal,
           CAST(row_number() OVER w AS INTEGER) AS rn,
           CAST(rank() OVER w AS INTEGER)       AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey ASC)
    """,
    description="Ranking window functions (row_number/rank/dense_rank) "
    "per nation.",
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey").asc())
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            F.row_number().over(w).cast("int").alias("rn"),
            F.rank().over(w).cast("int").alias("rnk"),
            F.dense_rank().over(w).cast("int").alias("drnk"),
        )
    )


@query(
    "q_window_running",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS run_sum,
           round(coalesce(lag(value) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC), -1), 2) AS prev_value
    FROM events
    """,
    description="Analytic window functions: per-user running sum + lag "
    "(the reference's running AggregateOperator as an ordered analytic).",
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(run), 2).alias("run_sum"),
        F.round(F.coalesce(F.lag("value").over(w), F.lit(-1)), 2).alias("prev_value"),
    )


@query(
    "q_join_salted",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT)        AS n_lines,
           round(sum(l.l_extendedprice), 2) AS total_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    description="Skew-mitigated salted shuffle join (operators/joins.py "
    "salted_join): row-identical to the plain join — salting only changes "
    "the shuffle distribution, so plain SQL is the oracle.",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, o, ["l_orderkey"], salt_buckets=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@query(
    "q_approx_distinct",
    oracle=None,  # HLL sketches differ across engines — checked in
    # tests/test_oracle_parity-adjacent pytest against the exact count
    # with a 5% relative-error bound instead of a hash match.
    description="approx_count_distinct (HyperLogLog++) per event_type — "
    "the sketch-aggregate scale path for COUNT(DISTINCT) at 100 TB "
    "(fixed-size state, single shuffle, mergeable partials).",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count("*").alias("n_events"),
    )


_KMV_K, _KMV_SALT = 32, 7


@query(
    "q_approx_distinct_kmv",
    oracle=None,  # patched below from the generated twin
    description="Approximate COUNT(DISTINCT user_id) per event_type via "
    "a k-minimum-values sketch (r11) — the FULL-ORACLE counterpart of "
    "q_approx_distinct's engine-specific HLL: the k smallest distinct "
    "Knuth-hash values per group are a pure BIGINT function of the "
    "data, so duckdb replays the sketch (and its (k-1)*M/h_k estimator) "
    "exactly and the driver hash-checks the approximation itself. "
    "Scale shape: one (group,hash) dedup shuffle + a WindowGroupLimit "
    "top-k — per-group state bounded by k everywhere, never by |D|; "
    "estimator error ~1/sqrt(k-2), pytest-gated vs the exact count.",
)
def q_approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.sketches import kmv_distinct

    e = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return kmv_distinct(e, ["event_type"], "user_id", k=_KMV_K, salt=_KMV_SALT)


def _patch_kmv_oracle() -> None:
    from dataclasses import replace as _dc_replace

    from stream_processing_platform_spark.operators.sketches import kmv_distinct_sql
    from stream_processing_platform_spark.registry import REGISTRY

    REGISTRY["q_approx_distinct_kmv"] = _dc_replace(
        REGISTRY["q_approx_distinct_kmv"],
        oracle=kmv_distinct_sql(
            "events", ["event_type"], "user_id", k=_KMV_K, salt=_KMV_SALT
        ),
    )


_patch_kmv_oracle()


@query(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag, CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           round(quantile_cont(round(l_extendedprice * 100), 0.5) / 100, 2)  AS median_price,
           round(quantile_cont(round(l_extendedprice * 100), 0.95) / 100, 2) AS p95_price,
           round(quantile_cont(round(l_extendedprice * 100), 0.99) / 100, 2) AS p99_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY 1, 2
    """,
    description="Exact interpolated percentiles (Spark percentile == "
    "duckdb quantile_cont) — the order-statistics aggregate family. "
    "Grouped by (returnflag, ship_year), a composite key: exact "
    "percentile buffers every group value in one agg buffer, so the key "
    "must bound the largest group — 3 coarse groups each buffering a "
    "third of the table was an executor-memory scale-killer. The true "
    "100 TB path is still q_approx_percentile.",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.percentiles import exact_percentiles

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_shipdate", "l_extendedprice"
    )
    return exact_percentiles(
        li,
        "l_extendedprice",
        {"median_price": 0.5, "p95_price": 0.95, "p99_price": 0.99},
        ["l_returnflag", F.year("l_shipdate").cast("int").alias("ship_year")],
    )


_APCT_PROBS = {"median_c": 0.5, "p95_c": 0.95, "p99_c": 0.99}
_APCT_OUT = {"median_c": "median_price", "p95_c": "p95_price", "p99_c": "p99_price"}


@query(
    "q_approx_percentile",
    oracle=None,  # generated below from _rank_select_ctes (defined later
    # in this module) and patched in via _dc_replace — the generated-
    # oracle doctrine, same as q_zorder_events.
    description="Quantile sketch with exact verification (sketch-then-"
    "verify, the heavy-hitters doctrine): approx_percentile brackets "
    "each target order statistic at p ± margin/accuracy, then one "
    "verify scan exact-counts below each bracket and rank-selects "
    "inside the ~0.2%-of-group candidate sliver — EXACT interpolated "
    "quantiles (full oracle from the same _rank_select_ctes generator "
    "as q_percentiles_distributed) at sketch cost: fixed-size mergeable "
    "sketch state, map-side partials, and the corpus is never sorted. "
    "Converted from rows-only in r10 (r9 verdict ask #7); the raw "
    "sketch path (operators/percentiles.approx_percentiles) remains "
    "the one-pass variant, error-bound-tested in test_scale_ops.py.",
)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.percentiles import (
        sketch_verified_percentiles,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    g = sketch_verified_percentiles(li, "l_extendedprice", _APCT_PROBS, ["l_returnflag"])
    return g.select(
        "l_returnflag",
        *[(F.col(a).cast("double") / 100.0).alias(out) for a, out in _APCT_OUT.items()],
        "n",
    )


@query(
    "q_window_navigation",
    oracle="""
    SELECT s_suppkey, n_name,
           round(first_value(s_acctbal) OVER w, 2) AS top_bal,
           round(coalesce(lead(s_acctbal) OVER w, -1), 2) AS next_bal,
           CAST(ntile(4) OVER w AS INTEGER)        AS quartile
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey ASC)
    """,
    description="Navigation window functions (first_value/lead/ntile) — "
    "SURVEY §2.10 analytic family beyond ranking.",
)
def q_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey").asc())
    return s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey",
        "n_name",
        F.round(F.first("s_acctbal").over(w), 2).alias("top_bal"),
        F.round(F.coalesce(F.lead("s_acctbal").over(w), F.lit(-1)), 2).alias("next_bal"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@query(
    "q_event_sequence",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, event_type, ts,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2,
             lead(event_id, 2)   OVER w AS end_id,
             lead(ts, 2)         OVER w AS end_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts) ASC, event_id ASC)
    )
    SELECT user_id, event_id AS start_id, end_id,
           CAST(epoch_ms(end_ts) - epoch_ms(ts) AS BIGINT) AS span_ms
    FROM o
    WHERE event_type = 'click' AND t1 = 'view' AND t2 = 'purchase'
    """,
    description="CEP-style pattern detection (the Flink-CEP capability a "
    "Flink-clone reference implies): find click -> view -> purchase as "
    "three CONSECUTIVE events per user in (ts, event_id) order, via "
    "lead() navigation — one user-keyed window shuffle, no joins, no "
    "state machine; emits (start, end, span_ms) per match.",
)
def q_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.windows_batch import epoch_ms

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(epoch_ms(F.col("ts")).asc(), F.col("event_id").asc())
    o = e.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("event_id", 2).over(w).alias("end_id"),
        F.lead(epoch_ms(F.col("ts")), 2).over(w).alias("end_ms"),
    )
    return o.where(
        (F.col("event_type") == "click") & (F.col("t1") == "view") & (F.col("t2") == "purchase")
    ).select(
        "user_id",
        F.col("event_id").alias("start_id"),
        "end_id",
        (F.col("end_ms") - epoch_ms(F.col("ts"))).alias("span_ms"),
    )


@query(
    "q_anomaly_zscore",
    oracle="""
    WITH c AS (
      SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(count(*) OVER w AS BIGINT)            AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS s,
             CAST(sum(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS ss
      FROM events
      WINDOW w AS (PARTITION BY user_id)
    )
    SELECT user_id, event_id, cents, n
    FROM c
    WHERE (n * cents - s) * (n * cents - s) > 9 * (n * ss - s * s)
    """,
    description="Statistical anomaly detection: events more than 3 "
    "population standard deviations from their user's mean — the "
    "z-score upgrade over q_case_when_anomaly's fixed threshold. The "
    "3-sigma test is cross-multiplied into pure BIGINT arithmetic "
    "((n*x - s)^2 > 9*(n*ss - s^2), exact in both engines; overflow "
    "bound documented: safe to ~3e9 cents*rows per user). One "
    "unordered per-user window — partial aggregation map-side, no "
    "sort, no join-back.",
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    c = e.select(
        "user_id",
        "event_id",
        cents.alias("cents"),
        F.count("*").over(w).alias("n"),
        F.sum(cents).over(w).alias("s"),
        F.sum(cents * cents).over(w).alias("ss"),
    )
    dev = F.col("n") * F.col("cents") - F.col("s")
    return c.where(
        dev * dev > 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
    ).select("user_id", "event_id", "cents", "n")


@query(
    "q_interevent_gaps",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                            ORDER BY epoch_ms(ts) ASC, event_id ASC) AS gap_ms
      FROM events
    )
    SELECT user_id, CAST(count(gap_ms) AS BIGINT) AS n_gaps,
           CAST(min(gap_ms) AS BIGINT) AS min_gap_ms,
           CAST(max(gap_ms) AS BIGINT) AS max_gap_ms,
           CAST(sum(gap_ms) AS BIGINT) AS sum_gap_ms
    FROM g WHERE gap_ms IS NOT NULL
    GROUP BY user_id
    """,
    description="Per-user inter-event gap statistics (lag + aggregate): "
    "the session-gap / activity-cadence profile a sessionizer is tuned "
    "from. Exact integer milliseconds end to end — no float boundary "
    "risk; one user-keyed window shuffle feeding a same-key aggregate "
    "(no second exchange: the agg rides the window's partitioning).",
)
def q_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.windows_batch import epoch_ms

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(epoch_ms(F.col("ts")).asc(), F.col("event_id").asc())
    g = e.select(
        "user_id", (epoch_ms(F.col("ts")) - F.lag(epoch_ms(F.col("ts"))).over(w)).alias("gap_ms")
    ).where(F.col("gap_ms").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap_ms").alias("n_gaps"),
        F.min("gap_ms").alias("min_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
        F.sum("gap_ms").alias("sum_gap_ms"),
    )


@query(
    "q06_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    description="TPC-H Q6 forecast-revenue: pure filter+agg — every "
    "predicate reaches the parquet scan (PushedFilters), zero joins, one "
    "partial+final agg. The canonical pushdown showcase.",
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
    description="TPC-H Q10 returned-item revenue: fact-fact join + "
    "broadcast dims + top-20 (deterministic tie-break on custkey).",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.where(F.col("l_returnflag") == "R")
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "q_string_agg",
    oracle="""
    SELECT n.n_name,
           string_agg(s.s_name, ',' ORDER BY s.s_name) AS suppliers,
           CAST(count(*) AS BIGINT) AS n_sup
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    description="String aggregation (listagg): ordered concat of group "
    "members — collect_list + array_sort + array_join in Spark.",
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias("suppliers"),
            F.count("*").alias("n_sup"),
        )
    )


@query(
    "q_sql_exists",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    """,
    description="SQL entry path (spark.sql over registered views) with "
    "correlated EXISTS / NOT EXISTS subqueries — Catalyst rewrites them "
    "to semi/anti joins; the identical SQL text runs on duckdb.",
)
def q_sql_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        """
    )


# ONE SQL text for both engines (generated-oracle by construction, like
# q_sql_exists): an org-chart-style hierarchy derived deterministically
# from the contiguous customer keys — parent(k) = k div 10, a 10-ary
# tree whose depth is bounded by the key width (log10 N, ~7 at 100 TB
# scale), so the recursion is provably shallow. Spark 4's WITH
# RECURSIVE executes each step as a distributed join against the
# previous iteration (UnionLoop) — the SQL-native alternative to the
# iterative-DataFrame loops in operators/graph.py.
_RECURSIVE_HIER_SQL = """
WITH RECURSIVE chain(custkey, root, depth) AS (
  SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, ch.root, ch.depth + 1
  FROM customer c JOIN chain ch
    ON ch.custkey = CAST(floor(c.c_custkey / 10) AS BIGINT)
  WHERE c.c_custkey >= 10
)
SELECT chain.root, CAST(chain.depth AS INTEGER) AS depth,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CAST(round(c2.c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acctbal_cents
FROM chain JOIN customer c2 ON c2.c_custkey = chain.custkey
GROUP BY chain.root, chain.depth
"""


@query(
    "q_recursive_hierarchy",
    oracle=_RECURSIVE_HIER_SQL,
    description="Recursive CTE (WITH RECURSIVE, Spark 4 SPARK-24497): "
    "per-(root, depth) rollup of a deterministic 10-ary hierarchy over "
    "the contiguous customer keys (parent = key div 10). The IDENTICAL "
    "SQL text runs on both engines — oracle equality by construction; "
    "recursion depth is bounded by the key width (log10 N), each "
    "iteration one distributed join against the previous level. Exact "
    "integer cents; covers the SQL-native iterative surface next to "
    "the DataFrame-loop algorithms (LPA, components, PageRank).",
)
def q_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_HIER_SQL)


@query(
    "q_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS rflag,
           coalesce(l_linestatus, 'ALL') AS lstatus,
           CAST(count(*) AS BIGINT)      AS n,
           round(sum(l_quantity), 2)     AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    description="Explicit GROUPING SETS (beyond cube/rollup): chosen "
    "aggregation levels in one expand pass.",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS rflag,
               coalesce(l_linestatus, 'ALL') AS lstatus,
               CAST(count(*) AS BIGINT)      AS n,
               round(sum(l_quantity), 2)     AS qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# --------------------------------------------------------------------------
# TPC-H-shaped additions (round 2): the join/predicate shapes not yet
# covered — EXISTS-with-range (Q4), two-sided dimension join (Q7),
# LIKE-filtered star (Q9), conditional-aggregate ratio (Q14),
# group-having-then-join (Q18), OR-of-ANDs multi-range predicate (Q19).
# The testdata schema is TPC-H-reduced (no shipmode/commitdate/container),
# so each query keeps the reference query's plan shape on the columns
# that exist.
# --------------------------------------------------------------------------

@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    description="TPC-H Q4 shape: per-priority order counts with an "
    "EXISTS carrying an equi key + a date-range condition — planned as a "
    "left-semi join, never a subquery-per-row.",
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey)
        & (l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


@query(
    "q07_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    description="TPC-H Q7 shape: bidirectional nation-pair trade volume "
    "by year — the two-sided dimension join (nation joined once per side "
    "of the trade, both broadcast).",
)
def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_n1key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_n2key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("_n1key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("_n2key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


@query(
    "q09_product_profit",
    oracle="""
    SELECT n.n_name, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           round(sum(round(l.l_extendedprice * 100)
                     * round((1 - l.l_discount) * 100)) / 10000, 2) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    description="TPC-H Q9 shape: profit by supplier nation and year for "
    "parts matching a LIKE pattern — substring-filtered star join (the "
    "part filter prunes before the fact join). Revenue is summed as "
    "integer cents x integer discount-percent: the per-row product is an "
    "exact integer, so the sum is order-independent and both engines "
    "agree bit-for-bit (plain double sums diverged at the half-cent "
    "rounding boundary on this grouping).",
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0) * F.round(
        (1 - F.col("l_discount")) * 100, 0
    )
    return j.groupBy("n_name", F.year("o_orderdate").alias("o_year")).agg(
        F.round(F.sum(cents) / 10000, 2).alias("profit")
    )


@query(
    "q12_priority_shipments",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    """,
    description="TPC-H Q12 shape: conditional priority counts per "
    "shipping category (returnflag stands in for the schema's missing "
    "shipmode) over a date-bounded scan — the date predicate pushes to "
    "the lineitem scan, the CASE WHEN folds into the aggregate so one "
    "pass produces both counters.",
)
def q12_priority_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT floor(100.0 * round(sum(CASE WHEN p.p_type = 'PROMO'
                         THEN l.l_extendedprice * (1 - l.l_discount)
                         ELSE 0 END), 2)
                 / round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                 * 10000.0 + 0.5) / 10000.0
           AS promo_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01'
    """,
    description="TPC-H Q14 shape: promo revenue share — conditional "
    "aggregate ratio. Both sums are rounded BEFORE the division so the "
    "ratio is computed from cross-engine-identical doubles.",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)), 2).alias("_n"),
            F.round(F.sum(rev), 2).alias("_d"),
        )
    )
    return agg.select(
        (F.floor(100.0 * F.col("_n") / F.col("_d") * 10_000.0 + 0.5) / 10_000.0).alias(
            "promo_revenue"
        )
    )


@query(
    "q18_large_volume",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(epoch_ms(o.o_orderdate) AS BIGINT) AS o_orderdate_ms,
           round(o.o_totalprice, 2) AS o_totalprice, big.total_qty
    FROM big
    JOIN orders o   ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    description="TPC-H Q18 shape: large-volume orders — pre-aggregate "
    "lineitem per order, HAVING-filter to a tiny set, then BROADCAST that "
    "set to orders/customer (aggregate-before-join: the 100 TB-correct "
    "order; grouping after the 3-way join would shuffle the whole fact).",
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        F.broadcast(big)
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            windows_batch.epoch_ms(F.col("o_orderdate")).alias("o_orderdate_ms"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@query(
    "q19_discounted_revenue",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 5 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 10 AND l.l_quantity <= 40)
    """,
    description="TPC-H Q19 shape: OR-of-ANDs mixed-table predicate over "
    "a part join — the disjunctive-pushdown stress test (brand/size "
    "conjuncts prune the broadcast side; quantity conjuncts stay on the "
    "fact scan).",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).where(
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#22")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(5, 30)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(10, 40)
        )
    )
    return j.agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))


# --------------------------------------------------------------------------
# TPC-H-shaped additions (round 2b): the remaining shapes expressible on
# the reduced schema (no partsupp/shipmode/phone columns in testdata) —
# per-group ratio over an 8-way star (Q8), outer-join count histogram
# (Q13), agg-of-agg with a scalar-max subquery (Q15), correlated scalar
# average (Q17), EXISTS + NOT-EXISTS self-joins (Q21), scalar-avg
# threshold + anti join (Q22). Money sums use the exact-integer-cents
# idiom (see q09) so both engines agree bit-for-bit.
# --------------------------------------------------------------------------

def _cents() -> "F.Column":
    """Per-row revenue as an exact integer: cents x discount-percent."""
    return F.round(F.col("l_extendedprice") * 100, 0) * F.round(
        (1 - F.col("l_discount")) * 100, 0
    )


@query(
    "q08_market_share",
    oracle="""
    WITH j AS (
      SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
             round(l.l_extendedprice * 100) * round((1 - l.l_discount) * 100) AS cents,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE p.p_type = 'ECONOMY' AND r.r_name = 'ASIA'
    )
    SELECT o_year,
           floor(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END)
                 / sum(cents) * 10000.0 + 0.5) / 10000.0 AS mkt_share
    FROM j GROUP BY o_year
    """,
    description="TPC-H Q8 shape: one nation's share of regional trade in a "
    "part type, by year — 8-way star join with a conditional-sum ratio per "
    "group. All five dims broadcast; both ratio terms are exact-integer "
    "cents sums, so the division sees identical operands in both engines, "
    "and the 4dp ratio rounds via floor(x+0.5) — round() itself splits "
    "cross-engine on half-boundary quotients (CLAUDE.md).",
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_c_nkey"), F.col("n_regionkey").alias("_c_rkey")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    j = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("_c_nkey"))
        .join(F.broadcast(r), F.col("_c_rkey") == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("_s_nkey"))
    )
    cents = _cents()
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", cents).otherwise(0.0)).alias("_n"),
            F.sum(cents).alias("_d"),
        )
        .select(
            "o_year",
            (F.floor(F.col("_n") / F.col("_d") * 10_000.0 + 0.5) / 10_000.0).alias(
                "mkt_share"
            ),
        )
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
    description="TPC-H Q13 shape: distribution of customers by order count "
    "— LEFT OUTER join with a predicate in the ON clause (filters the "
    "right side without dropping customers), count(col) skipping NULLs, "
    "then a histogram re-aggregation. Two shuffles total: custkey, then "
    "the tiny c_count regroup.",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey,
             sum(round(l_extendedprice * 100) * round((1 - l_discount) * 100)) AS cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, round(r.cents / 10000, 2) AS total_revenue
    FROM revenue r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.cents = (SELECT max(cents) FROM revenue)
    """,
    description="TPC-H Q15 shape: top supplier by quarterly revenue — "
    "aggregate-of-aggregate with a scalar MAX subquery. The per-supplier "
    "revenue is computed ONCE, its 1-row max is broadcast back onto it "
    "(no recompute, no window-over-everything), and the equality compares "
    "exact integer cents so ties are bit-deterministic cross-engine.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(F.sum(_cents()).alias("_rev_cents"))
    mx = rev.agg(F.max("_rev_cents").alias("_max_cents"))
    return (
        rev.join(F.broadcast(mx), rev._rev_cents == mx._max_cents)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("_rev_cents") / 10000, 2).alias("total_revenue"),
        )
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pq AS (SELECT l.l_partkey, avg(l.l_quantity) AS avg_qty
                FROM lineitem l
                JOIN part p ON p.p_partkey = l.l_partkey
                WHERE p.p_brand = 'Brand#7'
                GROUP BY l.l_partkey)
    SELECT round(sum(round(l.l_extendedprice * 100)) / 100.0 / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq    ON pq.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#7' AND l.l_quantity < 0.2 * pq.avg_qty
    """,
    description="TPC-H Q17 shape: revenue lost to small-quantity orders — "
    "correlated scalar-average subquery decorrelated into a per-part "
    "aggregate joined back on the correlation key. The brand filter is a "
    "function of the key, so the average is computed AFTER pruning to the "
    "brand's lineitems (identical rows per part, ~1/25 the aggregate "
    "input — the decorrelation order that survives 100 TB). Quantities "
    "are integers-as-double, so avg = exact-int / count is bit-identical "
    "cross-engine and the threshold comparison cannot flip.",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#7")
    l = load_table(spark, sf_dir, "lineitem")
    lf = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pq = lf.groupBy(F.col("l_partkey").alias("_pq_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        lf.join(F.broadcast(pq), lf.l_partkey == F.col("_pq_key"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum(F.round(F.col("l_extendedprice") * 100, 0)) / 100.0 / 7.0, 2).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY s.s_name ORDER BY numwait DESC, s_name ASC LIMIT 10
    """,
    description="TPC-H Q21 shape: suppliers who were the SOLE late shipper "
    "on a multi-supplier order (shipdate vs orderdate stands in for the "
    "missing commit/receipt dates) — the EXISTS + correlated NOT-EXISTS "
    "pair planned as a left-semi then left-anti self-join on the order "
    "key, both with residual non-equi conditions; never a per-row "
    "subquery.",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    l1 = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    late = (
        l1.join(o, l1.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .select("l_orderkey", "l_suppkey", "o_orderdate")
    )
    l2 = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("_k2"), F.col("l_suppkey").alias("_s2")
    )
    l3 = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("_k3"),
        F.col("l_suppkey").alias("_s3"),
        F.col("l_shipdate").alias("_ship3"),
    )
    sole_late = (
        late.join(
            l2,
            (late.l_orderkey == l2._k2) & (late.l_suppkey != l2._s2),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == l3._k3)
            & (F.col("l_suppkey") != l3._s3)
            & (l3._ship3 > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
            "left_anti",
        )
    )
    agg = (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
    return topk.top_k_global(agg, [F.col("numwait").desc(), F.col("s_name").asc()], 10)


@query(
    "q22_dormant_customers",
    oracle="""
    WITH avg_bal AS (SELECT sum(round(c_acctbal * 100)) / 100.0 / count(*) AS ab
                     FROM customer WHERE c_acctbal > 0.0)
    SELECT CAST(c.c_custkey % 10 AS INTEGER) AS cust_group,
           CAST(count(*) AS BIGINT) AS numcust,
           round(sum(round(c.c_acctbal * 100)) / 100.0, 2) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1
    """,
    description="TPC-H Q22 shape: well-funded customers with no recent "
    "orders (custkey buckets stand in for the missing phone prefix; "
    "'no recent orders' for the empty-at-this-SF 'no orders ever') — a "
    "1-row scalar-average broadcast as the filter threshold, then an "
    "anti join against the date-pruned orders scan.",
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    # exact-integer-cents average: sum(round(cents))/count is bit-identical
    # cross-engine, where avg(double) is summation-order-dependent and a
    # balance near the threshold could flip keep/drop between engines
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.round(F.col("c_acctbal") * 100, 0)) / 100.0 / F.count("*")).alias("_ab")
    )
    return (
        c.join(F.broadcast(avg_bal), c.c_acctbal > F.col("_ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 10).cast("int").alias("cust_group"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum(F.round(F.col("c_acctbal") * 100, 0)) / 100.0, 2).alias("totacctbal"),
        )
    )


@query(
    "q_udaf_geomean",
    oracle="""
    SELECT o_orderpriority, round(exp(avg(ln(o_totalprice))), 4) AS geo_mean_price
    FROM orders GROUP BY o_orderpriority
    """,
    description="UDAF surface (SURVEY §2.11): per-priority geometric mean "
    "of order value via an Arrow-batched pandas grouped-aggregate UDF — "
    "the custom-aggregate escape hatch when no built-in expression fits. "
    "NOTE this plans as AggregateInPandasExec: a COMPLETE aggregation that "
    "shuffles all raw group rows to one task per group with no "
    "update/merge split — acceptable for high-cardinality keys, a "
    "scale-killer for coarse ones; prefer native exprs (exp(avg(ln)))"
    " when one exists. The log-domain mean is a continuous value so a "
    "4-decimal round is safely off any boundary.",
)
def q_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    geo_mean = pandas_udf(_geo_mean_of_series, "double")

    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(geo_mean("o_totalprice"), 4).alias("geo_mean_price")
    )


# --------------------------------------------------------------------------
# TPC-H round-3: the four shapes whose official form needs PARTSUPP
# (absent from the reduced schema) — recast over lineitem as the
# part-supplier relation so the PLAN shape survives: Q2's decorrelated
# argmin, Q11's scalar-subquery HAVING, Q16's anti-joined distinct
# count, Q20's nested semi-join chain. With these, all 22 TPC-H query
# shapes are registered.
# --------------------------------------------------------------------------

@query(
    "q02_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(floor(CAST(round(l_extendedprice * 100) AS BIGINT) * 10000
                            / CAST(l_quantity AS BIGINT)) AS BIGINT)) AS unit_micros
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eur AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal
      FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'),
    ec AS (
      SELECT c.l_partkey, c.l_suppkey, c.unit_micros
      FROM cost c JOIN eur ON eur.s_suppkey = c.l_suppkey),
    best AS (
      SELECT l_partkey, min(unit_micros) AS min_micros FROM ec GROUP BY l_partkey),
    pick AS (
      SELECT ec.l_partkey, b.min_micros, min(ec.l_suppkey) AS s_suppkey
      FROM ec JOIN best b ON b.l_partkey = ec.l_partkey AND ec.unit_micros = b.min_micros
      GROUP BY ec.l_partkey, b.min_micros)
    SELECT s.s_acctbal, s.s_name, p.p_partkey, p.p_name,
           round(pick.min_micros / 10000.0, 2) AS unit_price
    FROM pick
    JOIN eur s ON s.s_suppkey = pick.s_suppkey
    JOIN part p ON p.p_partkey = pick.l_partkey
    WHERE p.p_type = 'STANDARD' AND p.p_size <= 15
    ORDER BY s.s_acctbal DESC, p.p_partkey ASC LIMIT 100
    """,
    description="TPC-H Q2 shape: cheapest EUROPE supplier per part "
    "(lineitem unit price stands in for ps_supplycost) — the correlated "
    "min-cost subquery decorrelated into a per-part aggregate, the "
    "winning supplier picked with a single map-side min(struct(cost, "
    "tiebreak)) argmin (never row_number over the expansion), supplier/"
    "nation/region dims broadcast. Unit price is exact integer micros "
    "(floor of a <2^53 integer quotient — bit-identical cross-engine), "
    "so the min and the equality tie-break cannot flip engines.",
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    unit_micros = F.floor(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long") * 10000
        / F.col("l_quantity").cast("long")
    ).cast("long")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eur = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    )
    # Both final filters land on this aggregate's OWN grouping keys
    # (l_partkey via part, l_suppkey via the EUROPE supplier set), so
    # they commute below it: broadcast semi-joins shrink the shuffled
    # aggregation input by the part selectivity x the region
    # selectivity — the optimization Catalyst cannot infer because the
    # filter sits above a key-preserving aggregate, not a join.
    lf = l.join(
        F.broadcast(p.select("p_partkey")),
        l.l_partkey == F.col("p_partkey"),
        "left_semi",
    ).join(
        F.broadcast(eur.select("s_suppkey")),
        l.l_suppkey == F.col("s_suppkey"),
        "left_semi",
    )
    cost = lf.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit_micros).alias("unit_micros")
    )
    ec = cost.join(F.broadcast(eur), cost.l_suppkey == eur.s_suppkey)
    # argmin: one map-side-combinable aggregate picks (min cost, min suppkey)
    pick = ec.groupBy("l_partkey").agg(
        F.min(F.struct(F.col("unit_micros"), F.col("l_suppkey"))).alias("_best")
    ).select(
        "l_partkey",
        F.col("_best.unit_micros").alias("min_micros"),
        F.col("_best.l_suppkey").alias("s_suppkey"),
    )
    out = (
        pick.join(F.broadcast(p), pick.l_partkey == p.p_partkey)
        .join(F.broadcast(eur), "s_suppkey")
        .select(
            "s_acctbal",
            "s_name",
            "p_partkey",
            "p_name",
            F.round(F.col("min_micros") / 10000.0, 2).alias("unit_price"),
        )
    )
    return topk.top_k_global(out, [F.col("s_acctbal").desc(), F.col("p_partkey").asc()], 100)


@query(
    "q11_important_stock",
    oracle="""
    WITH val AS (
      SELECT l.l_partkey,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
      GROUP BY l.l_partkey)
    SELECT l_partkey AS p_partkey, round(cents / 10000.0, 2) AS part_value
    FROM val
    WHERE cents * 2000 > (SELECT sum(cents) FROM val)
    """,
    description="TPC-H Q11 shape: parts holding an outsized share of "
    "ASIA-supplied value (lineitem revenue stands in for ps_supplycost * "
    "ps_availqty) — group aggregate HAVING a scalar-subquery threshold. "
    "The per-part aggregate is computed ONCE, its 1-row global sum "
    "broadcast back as the filter; the share test multiplies exact "
    "integer cents (value > 1/2000 of total ⇔ 2000*value > total), so "
    "no division and no boundary row can flip engines.",
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asia_sup = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey")
    )
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long") * F.round(
        (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    val = (
        l.join(F.broadcast(asia_sup), l.l_suppkey == asia_sup.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("cents"))
    )
    total = val.agg(F.sum("cents").alias("_total"))
    return (
        val.join(F.broadcast(total), F.col("cents") * 2000 > F.col("_total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("cents") / 10000.0, 2).alias("part_value"),
        )
    )


@query(
    "q16_supplier_part_types",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#7' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    description="TPC-H Q16 shape: how many suppliers can serve each "
    "(brand, type, size) bucket (lineitem as the part-supplier relation; "
    "negative account balance stands in for the 'Customer Complaints' "
    "exclusion) — NOT IN planned as a broadcast left-anti join, the part "
    "filter pruned before the fact join, then a distinct count. "
    "All-integer output, no rounding concerns.",
)
def q16_supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#7")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0.0).select(
        "s_suppkey"
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_concentrated_suppliers",
    oracle="""
    WITH small_parts AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
    persup AS (
      SELECT l.l_suppkey,
             sum(CASE WHEN l.l_shipdate >= TIMESTAMP '1997-01-01'
                       AND l.l_shipdate < TIMESTAMP '1998-01-01'
                      THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END) AS qty_1997,
             sum(CASE WHEN l.l_shipdate >= TIMESTAMP '1998-01-01'
                       AND l.l_shipdate < TIMESTAMP '1999-01-01'
                      THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END) AS qty_1998
      FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM small_parts)
      GROUP BY l.l_suppkey)
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN
          (SELECT l_suppkey FROM persup WHERE qty_1997 > qty_1998)
    """,
    description="TPC-H Q20 shape: suppliers whose 'small%'-part volume "
    "declined year-over-year (1997 > 1998; the shipped-quantity "
    "comparison stands in for ps_availqty > half the year's demand) — "
    "the nested IN chain planned as semi joins: part-name filter "
    "semi-joins the fact scan, the per-supplier conditional aggregate "
    "feeds a left-semi against supplier, nation broadcast for the final "
    "projection. Comparing two equal-width year windows keeps the "
    "predicate ~50% selective at EVERY scale factor (a fixed share-of-"
    "total threshold would go empty as per-supplier shares concentrate "
    "by the law of large numbers), and exact integer quantities mean no "
    "engine can disagree on the comparison.",
)
def q20_concentrated_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%")).select(
        "p_partkey"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    in_1997 = (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")
    )
    in_1998 = (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp")
    )
    qty = F.col("l_quantity").cast("long")
    persup = (
        l.join(F.broadcast(parts), l.l_partkey == parts.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.when(in_1997, qty).otherwise(F.lit(0))).alias("qty_1997"),
            F.sum(F.when(in_1998, qty).otherwise(F.lit(0))).alias("qty_1998"),
        )
    )
    winners = persup.where(F.col("qty_1997") > F.col("qty_1998")).select("l_suppkey")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(winners), s.s_suppkey == winners.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", "n_name")
    )


@query(
    "q_zorder_events",
    oracle=None,  # set just below — the interleave fragment is generated
    description="Z-order (Morton) clustering key over (user_id, value) "
    "on the events table — the data-layout step that makes parquet "
    "min/max stats selective on BOTH filter columns at once (Delta/"
    "Iceberg OPTIMIZE ZORDER, as a pure DataFrame transform; "
    "operators/layout.py). Bounds come from a 1-row global min/max "
    "broadcast back onto the scan; normalization and bit-interleaving "
    "are engine-portable integer/IEEE ops, so the Morton key itself "
    "hash-matches the DuckDB twin built from the same shift/mask "
    "terms. The pruning payoff is pinned in tests/test_layout.py.",
)
def q_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators import layout

    e = load_table(spark, sf_dir, "events")
    b = e.agg(
        F.min("user_id").alias("_ulo"),
        F.max("user_id").alias("_uhi"),
        F.min("value").alias("_vlo"),
        F.max("value").alias("_vhi"),
    )
    nu = layout.normalize_to_bits(F.col("user_id"), F.col("_ulo"), F.col("_uhi"), 16)
    nv = layout.normalize_to_bits(F.col("value"), F.col("_vlo"), F.col("_vhi"), 16)
    z = layout.zorder_value([nu, nv], 16)
    return e.join(F.broadcast(b)).select("event_id", z.alias("zval"))


# Generated oracle: identical shift/mask interleave terms on both engines.
def _zorder_oracle() -> str:
    from stream_processing_platform_spark.operators.layout import zorder_value_sql

    interleave = zorder_value_sql(["nu", "nv"], 16)
    return f"""
    WITH b AS (SELECT min(user_id) AS ulo, max(user_id) AS uhi,
                      min(value) AS vlo, max(value) AS vhi FROM events),
    norm AS (SELECT e.event_id,
      greatest(CAST(0 AS BIGINT), least(CAST(65535 AS BIGINT),
        CAST(floor((e.user_id - b.ulo) * 65535.0 / (b.uhi - b.ulo)) AS BIGINT))) AS nu,
      greatest(CAST(0 AS BIGINT), least(CAST(65535 AS BIGINT),
        CAST(floor((e.value - b.vlo) * 65535.0 / (b.vhi - b.vlo)) AS BIGINT))) AS nv
    FROM events e, b)
    SELECT event_id, {interleave} AS zval FROM norm
    """


from stream_processing_platform_spark.registry import REGISTRY as _REG  # noqa: E402
from dataclasses import replace as _dc_replace  # noqa: E402

_REG["q_zorder_events"] = _dc_replace(_REG["q_zorder_events"], oracle=_zorder_oracle())


@query(
    "q_scd2_customers",
    oracle="""
    WITH cust AS (
      SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
             c_mktsegment
      FROM customer),
    upd AS (
      SELECT c_custkey, acctbal_cents + 10000 AS acctbal_cents, c_mktsegment,
             CAST(1000000 AS BIGINT) AS eff
      FROM cust WHERE c_custkey % 10 = 3
      UNION ALL
      SELECT c_custkey, acctbal_cents, c_mktsegment, CAST(1000000 AS BIGINT)
      FROM cust WHERE c_custkey % 10 = 5
      UNION ALL
      SELECT c_custkey + 1000000, c_custkey, 'NEW', CAST(2000000 AS BIGINT)
      FROM cust WHERE c_custkey % 100 = 0
      UNION ALL
      SELECT c_custkey, acctbal_cents + 20000, 'MOVED', CAST(3000000 AS BIGINT)
      FROM cust WHERE c_custkey % 20 = 3),
    latest AS (
      SELECT u.c_custkey, u.acctbal_cents, u.c_mktsegment, u.eff
      FROM upd u JOIN (SELECT c_custkey, max(eff) AS eff FROM upd GROUP BY 1) m
        ON m.c_custkey = u.c_custkey AND m.eff = u.eff),
    j AS (
      SELECT c.c_custkey, c.acctbal_cents, c.c_mktsegment,
             l.acctbal_cents AS new_cents, l.c_mktsegment AS new_seg, l.eff,
             (l.eff IS NOT NULL AND (l.acctbal_cents <> c.acctbal_cents
                                     OR l.c_mktsegment <> c.c_mktsegment)) AS closes
      FROM cust c LEFT JOIN latest l USING (c_custkey))
    SELECT c_custkey, acctbal_cents, c_mktsegment,
           CAST(0 AS BIGINT) AS valid_from_ms,
           CAST(CASE WHEN closes THEN eff ELSE 253402300800000 END AS BIGINT)
             AS valid_to_ms,
           CAST(CASE WHEN closes THEN 0 ELSE 1 END AS INTEGER) AS is_current
    FROM j
    UNION ALL
    SELECT c_custkey, new_cents, new_seg, eff, CAST(253402300800000 AS BIGINT), 1
    FROM j WHERE closes
    UNION ALL
    SELECT l.c_custkey, l.acctbal_cents, l.c_mktsegment, l.eff,
           CAST(253402300800000 AS BIGINT), 1
    FROM latest l WHERE l.c_custkey NOT IN (SELECT c_custkey FROM cust)
    """,
    description="SCD2 dimension maintenance (operators/scd.py): one CDC "
    "batch against the customer dimension — changed keys close their "
    "open row and append a new one, no-op updates pass through, unseen "
    "keys insert; in-batch duplicates collapse to the latest effective "
    "time. One left join of dimension × latest-per-key updates (argmax "
    "via map-side max(struct), no ranking window); balances as exact "
    "integer cents so both engines agree on 'changed'. The update batch "
    "is derived deterministically from the dimension itself (mod-class "
    "rules) so the oracle is self-contained.",
)
def q_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators import scd

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("acctbal_cents"),
        "c_mktsegment",
    )
    current = scd.scd2_init(cust, ["c_custkey"], ["acctbal_cents", "c_mktsegment"])
    k = F.col("c_custkey")
    upd = (
        cust.where(k % 10 == 3).select(
            k.alias("c_custkey"),
            (F.col("acctbal_cents") + 10000).alias("acctbal_cents"),
            "c_mktsegment",
            F.lit(1_000_000).cast("long").alias("effective_ms"),
        )
        .unionAll(
            cust.where(k % 10 == 5).select(
                k, "acctbal_cents", "c_mktsegment",
                F.lit(1_000_000).cast("long").alias("effective_ms"),
            )
        )
        .unionAll(
            cust.where(k % 100 == 0).select(
                (k + 1_000_000).alias("c_custkey"),
                k.cast("long").alias("acctbal_cents"),
                F.lit("NEW").alias("c_mktsegment"),
                F.lit(2_000_000).cast("long").alias("effective_ms"),
            )
        )
        .unionAll(
            cust.where(k % 20 == 3).select(
                k,
                (F.col("acctbal_cents") + 20000).alias("acctbal_cents"),
                F.lit("MOVED").alias("c_mktsegment"),
                F.lit(3_000_000).cast("long").alias("effective_ms"),
            )
        )
    )
    return scd.scd2_apply(
        current, upd, ["c_custkey"], ["acctbal_cents", "c_mktsegment"]
    )


def _ticks_oracle() -> str:
    """GENERATED oracle (planted-fixture doctrine): the tick feed is a
    pure function of tick_id, so the expected per-symbol aggregate is
    computed here by a SEQUENTIAL driver-side replay of the same rule
    and emitted as a typed VALUES table. What the hash-match then
    proves is the DISTRIBUTED path — partition planning, pushed
    tick_id pruning, Arrow transport, shuffle aggregation — reproduces
    the sequential truth exactly (a partition-boundary or pushdown bug
    shows up as a count/sum drift)."""
    from stream_processing_platform_spark.sources.custom_datasource import tick_row

    agg: dict[str, list[int]] = {}
    for i in range(16_000):
        _, _, sym, price, volume = tick_row(i)
        a = agg.setdefault(sym, [0, 0, 0])
        a[0] += 1
        a[1] += round(price * 100)
        a[2] += volume
    rows = ", ".join(
        f"('{s}', CAST({a[0]} AS BIGINT), CAST({a[1]} AS BIGINT),"
        f" CAST({a[2]} AS BIGINT))"
        for s, a in sorted(agg.items())
    )
    return (
        f"SELECT * FROM (VALUES {rows})"
        f" AS t(symbol, n, sum_price_c, sum_volume)"
    )


@query(
    "q_custom_source_ticks",
    oracle=_ticks_oracle(),
    description="Custom Python DataSource scan (sources/"
    "custom_datasource.py:TickDataSource — the Spark-4 custom-transport "
    "path standing in for the reference's KafkaSourceOperator class, "
    "sources.py:25-198): deterministic synthetic tick feed read through "
    "format('spp_ticks') with partition planning and pushed tick_id/"
    "symbol predicates pruning generated ranges, aggregated per symbol. "
    "The streaming twin (offset log, availableNow drain, checkpoint "
    "resume, two-phase-commit manifest sink) runs in pytest.",
)
def q_custom_source_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.sources.custom_datasource import (
        register_custom_sources,
    )

    register_custom_sources(spark)
    df = (
        spark.read.format("spp_ticks")
        .option("rows", 20_000)
        .option("partitions", 8)
        .load()
        .where(F.col("tick_id") < 16_000)
    )
    return df.groupBy("symbol").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("price") * 100).cast("long")).alias("sum_price_c"),
        F.sum("volume").alias("sum_volume"),
    )


@query(
    "q_json_variant",
    oracle="""
    WITH j AS (
      SELECT event_id,
             '{"u":{"id":' || CAST(user_id AS VARCHAR)
               || '},"vals":[' || CAST(event_id AS VARCHAR) || ','
               || CAST(event_id % 7 AS VARCHAR)
               || '],"t":"' || event_type || '"}' AS js
      FROM events
    )
    SELECT event_id,
           CAST(json_extract(js, '$.u.id') AS BIGINT) AS uid,
           json_extract_string(js, '$.t') AS tag,
           CAST(json_extract(js, '$.vals[1]') AS INTEGER) AS v1
    FROM j
    WHERE CAST(json_extract(js, '$.vals[1]') AS INTEGER) >= 3
    """,
    description="Semi-structured VariantType path (Spark 4): nested "
    "JSON built identically in both engines is ingested with "
    "parse_json into Variant's binary encoding, fields extracted by "
    "typed variant_get path expressions ($.u.id, $.vals[1], $.t) — the "
    "modern upgrade over get_json_object string re-parsing "
    "(q_json_extract): at 100 TB the payload parses ONCE into a "
    "shredded binary column instead of per-expression string walks. "
    "Oracle: duckdb json_extract over the same constructed JSON.",
)
def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    js = F.concat(
        F.lit('{"u":{"id":'), F.col("user_id").cast("string"),
        F.lit('},"vals":['), F.col("event_id").cast("string"), F.lit(","),
        (F.col("event_id") % 7).cast("string"),
        F.lit('],"t":"'), F.col("event_type"), F.lit('"}'),
    )
    v = F.parse_json(js)
    return (
        e.select(
            "event_id",
            F.variant_get(v, "$.u.id", "bigint").alias("uid"),
            F.variant_get(v, "$.t", "string").alias("tag"),
            F.variant_get(v, "$.vals[1]", "int").alias("v1"),
        )
        .where(F.col("v1") >= 3)
    )


@query(
    "q_mad_outliers",
    oracle="""
    WITH c AS (SELECT event_type, user_id, event_id,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events),
    med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
            FROM c GROUP BY event_type),
    dev AS (SELECT c.event_type, c.cents, med.med,
                   abs(c.cents - med.med) AS adev
            FROM c JOIN med USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(min(d.med) * 4 AS BIGINT) AS med4_c,
           CAST(min(mad.mad) * 4 AS BIGINT) AS mad4_c,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN d.adev > 4.4478 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad USING (event_type)
    GROUP BY d.event_type
    """,
    description="Robust outlier detection via MAD (median absolute "
    "deviation) — the robust twin of q_anomaly_zscore: per event_type, "
    "the exact median of integer cents, then the median of absolute "
    "deviations, flagging |x - med| > 3*1.4826*MAD (literal 4.4478). "
    "Interpolated medians of integers land on exact quarter-cent "
    "doubles, so med*4/mad*4 cast to BIGINT are bit-identical "
    "cross-engine — no rounding step at all. Two grouped exact "
    "percentiles + one broadcast join back; the 100 TB form swaps in "
    "approx_percentile (q_approx_percentile doctrine).",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    c = e.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    med = c.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("med")
    )
    dev = c.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            (F.min("med") * 4).cast("long").alias("med4_c"),
            (F.min("mad") * 4).cast("long").alias("mad4_c"),
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("adev") > 4.4478 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@query(
    "q_key_skew",
    oracle="""
    WITH pk AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY user_id),
    ranked AS (SELECT c,
                      row_number() OVER (ORDER BY c ASC, user_id ASC) AS i,
                      count(*) OVER ()  AS k,
                      sum(c) OVER ()    AS total
               FROM pk)
    SELECT CAST(min(k) AS BIGINT) AS n_keys,
           CAST(min(total) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_key_rows,
           floor(max(c) * 1000000.0 / min(total) + 0.5) / 1000000.0
             AS max_share,
           floor((2.0 * sum(i * c) / (min(k) * min(total))
                  - (min(k) + 1.0) / min(k)) * 1000000.0 + 0.5) / 1000000.0
             AS gini
    FROM ranked
    """,
    description="Shuffle-key skew report — the diagnostic a 100 TB "
    "engine runs BEFORE keying a join/agg on a column: per-key row "
    "counts, the hottest key's share, and the Gini coefficient of the "
    "key distribution (2*sum(rank*count)/(k*total) - (k+1)/k over "
    "counts ranked ascending). Gini ~0 = uniform (safe to key), ~1 = "
    "one hot key (salt it / AQE skew join). Integer arithmetic until "
    "the two final quotients, rounded via floor(x+0.5) at 6dp. One "
    "key-aggregate + one single-partition window over k rows (keys, "
    "not rows — bounded).",
)
def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    pk = e.groupBy("user_id").agg(F.count("*").alias("c"))
    w = Window.orderBy(F.col("c").asc(), F.col("user_id").asc())
    wall = Window.partitionBy()
    ranked = pk.select(
        "c",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wall).alias("k"),
        F.sum("c").over(wall).alias("total"),
    )
    return ranked.agg(
        F.min("k").alias("n_keys"),
        F.min("total").alias("n_rows"),
        F.max("c").alias("max_key_rows"),
        (F.floor(F.max("c") * 1_000_000.0 / F.min("total") + 0.5) / 1_000_000.0).alias(
            "max_share"
        ),
        (
            F.floor(
                (
                    2.0 * F.sum(F.col("i") * F.col("c")) / (F.min("k") * F.min("total"))
                    - (F.min("k") + 1.0) / F.min("k")
                )
                * 1_000_000.0
                + 0.5
            )
            / 1_000_000.0
        ).alias("gini"),
    )


@query(
    "q_cogroup_attribution",
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, epoch_ms(ts) AS cts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS pts
          FROM events WHERE event_type = 'purchase'),
    cand AS (
      SELECT p.purchase_id, p.user_id, p.pts, c.click_id, c.cts
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id
       AND c.cts <= p.pts AND c.cts >= p.pts - 1800000
    ),
    best AS (
      SELECT purchase_id, user_id, pts,
             (min({'negts': -cts, 'cid': click_id})).cid AS click_id
      FROM cand WHERE click_id IS NOT NULL
      GROUP BY purchase_id, user_id, pts
    )
    SELECT p.purchase_id, p.user_id,
           CAST(coalesce(b.click_id, -1) AS BIGINT) AS click_id,
           CAST(coalesce(p.pts - (SELECT -(min({'negts': -cts, 'cid': click_id})).negts
                                  FROM cand
                                  WHERE cand.purchase_id = p.purchase_id
                                    AND cand.click_id IS NOT NULL), -1)
                AS BIGINT) AS delta_ms
    FROM p LEFT JOIN best b USING (purchase_id)
    """,
    description="Two-sided grouped merge via cogroup().applyInPandas — "
    "the API surface the reference's JoinOperator custom merge function "
    "(stateful.py:345-465 join_func) maps to when the merge logic is "
    "imperative: clicks and purchases cogrouped per user in ONE shuffle "
    "each, the pandas function runs a vectorized searchsorted "
    "last-click-within-30-min attribution per user. Tie-break: latest "
    "click wins, then smallest click_id (numpy argmin over (-ts, id)). "
    "The duckdb oracle recomputes the same attribution relationally.",
)
def q_cogroup_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from stream_processing_platform_spark.operators.windows_batch import epoch_ms

    e = load_table(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), epoch_ms(F.col("ts")).alias("cts")
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), epoch_ms(F.col("ts")).alias("pts")
    )

    def attribute(c: pd.DataFrame, p: pd.DataFrame) -> pd.DataFrame:
        if p.empty:
            return pd.DataFrame(
                {"purchase_id": [], "user_id": [], "click_id": [], "delta_ms": []}
            )
        uid = p["user_id"].iloc[0] if not p.empty else (c["user_id"].iloc[0])
        out_click = np.full(len(p), -1, dtype=np.int64)
        out_delta = np.full(len(p), -1, dtype=np.int64)
        if not c.empty:
            # per purchase: clicks in [pts - 30min, pts]; latest ts wins,
            # smallest click_id on ts ties
            order = np.lexsort((c["click_id"].to_numpy(), c["cts"].to_numpy()))
            cts = c["cts"].to_numpy()[order]
            cid = c["click_id"].to_numpy()[order]
            for i, pts in enumerate(p["pts"].to_numpy()):
                hi = np.searchsorted(cts, pts, side="right")
                lo = np.searchsorted(cts, pts - 1_800_000, side="left")
                if hi > lo:
                    window_ts = cts[lo:hi]
                    window_id = cid[lo:hi]
                    best_ts = window_ts.max()
                    sel = window_id[window_ts == best_ts].min()
                    out_click[i] = sel
                    out_delta[i] = pts - best_ts
        return pd.DataFrame(
            {
                "purchase_id": p["purchase_id"].to_numpy(),
                "user_id": np.full(len(p), uid, dtype=np.int64),
                "click_id": out_click,
                "delta_ms": out_delta,
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            attribute,
            "purchase_id bigint, user_id bigint, click_id bigint, delta_ms bigint",
        )
    )


@query(
    "q_cdc_apply",
    oracle="""
    WITH env AS (
      SELECT user_id,
             epoch_ms(ts) AS seq_ms, event_id,
             CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    win AS (
      SELECT user_id,
             max({'s0': seq_ms, 's1': event_id, 'op': op, 'c': cents}) AS w,
             CAST(count(*) AS BIGINT) AS n_ops
      FROM env GROUP BY user_id
    )
    SELECT user_id, (w).c AS cents, CAST((w).s0 AS BIGINT) AS last_seq, n_ops
    FROM win WHERE (w).op <> 'd'
    """,
    description="CDC apply (operators/cdc.py) — the read side of the "
    "CDC story (write side: SCD2 merge/sink): Debezium-shaped "
    "upsert/delete envelopes (here derived from events: 'error' rows "
    "act as tombstones) collapse to current state via last-writer-wins "
    "argmax as max(struct(seq, op, payload)) — map-side combining, one "
    "key-width shuffle of one row per key, no window sort over the "
    "history; keys whose latest op is a delete disappear. The 100 TB "
    "CDC-compaction shape.",
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.cdc import apply_cdc
    from stream_processing_platform_spark.operators.windows_batch import epoch_ms

    e = load_table(spark, sf_dir, "events")
    env = e.select(
        "user_id",
        epoch_ms(F.col("ts")).alias("seq_ms"),
        "event_id",
        F.when(F.col("event_type") == "error", "d").otherwise("u").alias("op"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return apply_cdc(
        env, key_cols="user_id", seq_cols=["seq_ms", "event_id"],
        op_col="op", payload_cols="cents",
    )


@query(
    "q_data_expectations",
    oracle="""
    WITH a AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS v_null,
             CAST(sum(CASE WHEN value IS NOT NULL AND value >= 0.0
                             AND value <= 10000.0 THEN 0 ELSE 1 END) AS BIGINT)
               AS v_range,
             CAST(sum(CASE WHEN event_type IN ('click','view','purchase',
                                               'error','search')
                           THEN 0 ELSE 1 END) AS BIGINT) AS v_vals,
             CAST(count(DISTINCT event_id) AS BIGINT) AS dk
      FROM events
    )
    SELECT 'value_not_null' AS rule, v_null AS n_violations, n AS n_rows,
           v_null = 0 AS passed FROM a
    UNION ALL
    SELECT 'value_in_range', v_range, n, v_range = 0 FROM a
    UNION ALL
    SELECT 'event_type_accepted', v_vals, n, v_vals = 0 FROM a
    UNION ALL
    SELECT 'unique(event_id)', n - dk, n, n = dk FROM a
    """,
    description="Declarative data-quality expectations (operators/"
    "quality.py — the Delta-Live-Tables/Great-Expectations gate): "
    "not-null, range, accepted-values, and dataset-level uniqueness "
    "checked over events in ONE map-side-combining aggregate pass "
    "(violations are sums of negated predicates; uniqueness = n - "
    "count_distinct in the same pass); row-level enforcement is one "
    "codegen filter (pinned in tests). Null predicate results count "
    "as violations — a null check never silently passes.",
)
def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.quality import expectation_report

    e = load_table(spark, sf_dir, "events")
    return expectation_report(
        e,
        {
            "value_not_null": F.col("value").isNotNull(),
            "value_in_range": (F.col("value") >= 0.0) & (F.col("value") <= 10_000.0),
            "event_type_accepted": F.col("event_type").isin(
                "click", "view", "purchase", "error", "search"
            ),
        },
        unique_keys=["event_id"],
    )


@query(
    "q_incremental_agg_refresh",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT)                                  AS cnt,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_c,
           CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS min_c,
           CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS max_c,
           floor(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100.0
                 / count(*) + 0.5) / 10000.0                         AS avg_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    description="Incremental materialized-view refresh (operators/"
    "rollup.aggregate_state + merge_aggregate_state): the pre-1997 "
    "history's aggregate STATE is built once, the post-1997 delta's "
    "state is built alone, and the two merge by per-field monoid fold "
    "— cnt/sum add, min/max fold — with the read-time avg derived from "
    "the merged state. The oracle recomputes over the FULL fact table, "
    "so the hash-MATCH proves merge == recompute: the O(delta) refresh "
    "a 100 TB pipeline runs instead of an O(history) rescan. Exact "
    "integer cents; floor(x+0.5) quotient rounding.",
)
def q_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.rollup import (
        aggregate_state,
        merge_aggregate_state,
    )

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_shipdate",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    split = F.lit("1997-01-01").cast("timestamp")
    keys = ["l_returnflag", "l_linestatus"]
    base = aggregate_state(l.where(F.col("l_shipdate") < split), keys, "cents")
    delta = aggregate_state(l.where(F.col("l_shipdate") >= split), keys, "cents")
    merged = merge_aggregate_state([base, delta], keys)
    return merged.select(
        *keys,
        F.col("cnt"),
        F.col("sum_v").alias("sum_c"),
        F.col("min_v").alias("min_c"),
        F.col("max_v").alias("max_c"),
        (F.floor(F.col("sum_v") * 100.0 / F.col("cnt") + 0.5) / 10_000.0).alias(
            "avg_price"
        ),
    )


@query(
    "q_window_distribution",
    oracle="""
    SELECT c_custkey,
           CAST(c_nationkey AS BIGINT) AS nation,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w    AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) ASC)
    """,
    description="Distribution window functions (percent_rank/cume_dist) "
    "— SURVEY §2.10 analytic family. Both are quotients of small "
    "integers ((rank-1)/(n-1), peers/n) computed over an integer-cents "
    "ordering key: the SAME IEEE division on both engines, so the raw "
    "doubles are bit-identical with no rounding step. Tie-aware by "
    "definition (rank/peer based), hence deterministic without a "
    "tie-break column. One partition-keyed window shuffle.",
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.round(F.col("c_acctbal") * 100).cast("long").asc()
    )
    return c.select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("nation"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


# Shared by q_avro_roundtrip and the LIVE q_stream_avro (generated-
# oracle doctrine: one aggregate definition, two transports).
AVRO_AGG_ORACLE = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c,
           CAST(min(epoch_ms(ts)) AS BIGINT) AS mn_ts_ms,
           CAST(max(epoch_ms(ts)) AS BIGINT) AS mx_ts_ms
    FROM events
    GROUP BY event_type
    """


@query(
    "q_avro_roundtrip",
    oracle=AVRO_AGG_ORACLE,
    description="Avro OCF round-trip through the from-scratch codec "
    "(sources/avrocodec.py + the spp_avro Python DataSource): the "
    "events table is WRITTEN as deflate-compressed Avro container "
    "files (one per task, two-phase manifest commit) and READ back "
    "(one input partition per file, block-streaming decode), then "
    "aggregated; the oracle aggregates the original parquet, so a "
    "hash-MATCH proves the full encode→compress→commit→decode cycle "
    "is lossless over longs/strings/doubles. The Kafka-ecosystem "
    "at-rest format the stock distribution lacks (no spark-avro "
    "module), built from the public Avro spec.",
)
def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    out = f"/tmp/spp_avro_events_{os.path.basename(sf_dir.rstrip('/'))}"
    avro_write_fixture(spark, sf_dir, out)
    return avro_read_agg_df(spark, out)


def avro_write_fixture(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Encode stage of q_avro_roundtrip: events → deflate OCF files.
    Split out (the codec-split convention) so the bench can materialize
    the .avro directory ONCE, un-timed, and time only the read path —
    at real scale the bytes arrive from storage, not this writer."""
    from stream_processing_platform_spark.sources.avro_datasource import (
        register_avro_source,
    )

    register_avro_source(spark)
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        windows_batch.epoch_ms(F.col("ts")).alias("ts_ms"),
        "props",
    )
    e.write.format("spp_avro").mode("overwrite").save(out)


def avro_read_agg_df(spark: SparkSession, out: str) -> DataFrame:
    """Read+aggregate stage of q_avro_roundtrip over a pre-written
    .avro directory — the engine-cost part (OCF block decode through
    the spp_avro DataSource's Arrow batches)."""
    from stream_processing_platform_spark.sources.avro_datasource import (
        register_avro_source,
    )

    register_avro_source(spark)
    back = spark.read.format("spp_avro").load(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_c"),
        F.min("ts_ms").alias("mn_ts_ms"),
        F.max("ts_ms").alias("mx_ts_ms"),
    )


# One spec table drives BOTH the Spark expressions and the SQL oracle
# (generated-oracle doctrine) — the interpolation arithmetic exists
# once, as a reusable generator shared with q_winsorize.
_PCTL_DIST_PROBS = {"median_c": 0.5, "p95_c": 0.95, "p99_c": 0.99}


def _rank_select_ctes(keys_sql: str, base_sql: str, probs: dict[str, float]) -> str:
    """CTEs ``b``/``r``/``g`` computing rank-select interpolated
    quantiles of column ``c`` from ``base_sql``, grouped by
    ``keys_sql`` — ``g`` exposes the keys, ``gn``, and one BIGINT
    column per prob alias (the exact mirror of
    operators/percentiles.exact_percentiles_distributed)."""
    picks, finals = [], []
    for a, p in probs.items():
        # CAST({p} AS DOUBLE) everywhere: a bare decimal literal would
        # make DuckDB compute (n-1)*p in exact DECIMAL while Spark uses
        # IEEE doubles — for p=0.95, n-1=20 the exact product is 19 but
        # the double one is 18.999…, so the two engines would pick
        # DIFFERENT order statistics. Same-op-sequence doubles only.
        pd_ = f"CAST({p} AS DOUBLE)"
        picks.append(
            f"min(CASE WHEN rn = CAST(floor((n-1)*{pd_}) AS BIGINT)+1 THEN c END) AS lo_{a},"
            f" min(CASE WHEN rn = CAST(floor((n-1)*{pd_}) AS BIGINT)+2 THEN c END) AS hi_{a}"
        )
        finals.append(
            f"CAST(floor(CAST(lo_{a} AS DOUBLE)"
            f" + ((gn-1)*{pd_} - floor((gn-1)*{pd_}))"
            f" * (CAST(COALESCE(hi_{a}, lo_{a}) AS DOUBLE) - CAST(lo_{a} AS DOUBLE))"
            f" + 0.5) AS BIGINT) AS {a}"
        )
    return f"""b AS ({base_sql}),
    r AS (SELECT {keys_sql}, c,
                 row_number() OVER (PARTITION BY {keys_sql} ORDER BY c) AS rn,
                 count(*) OVER (PARTITION BY {keys_sql}) AS n
          FROM b),
    gq AS (SELECT {keys_sql}, max(n) AS gn, {", ".join(picks)}
           FROM r GROUP BY {keys_sql}),
    g AS (SELECT {keys_sql}, gn, {", ".join(finals)} FROM gq)"""


def _pctl_dist_oracle() -> str:
    base = (
        "SELECT l_returnflag, CAST(year(l_shipdate) AS INTEGER) AS ship_year,"
        " CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem"
    )
    ctes = _rank_select_ctes("l_returnflag, ship_year", base, _PCTL_DIST_PROBS)
    cols = ", ".join(_PCTL_DIST_PROBS)
    return f"""
    WITH {ctes}
    SELECT l_returnflag, ship_year, {cols}, CAST(gn AS BIGINT) AS n
    FROM g
    """


@query(
    "q_percentiles_distributed",
    oracle=_pctl_dist_oracle(),
    description="Exact interpolated percentiles via distributed rank-"
    "select (operators/percentiles.exact_percentiles_distributed): one "
    "partition-keyed window SORT (external, spillable) + conditional "
    "min(CASE rank = pos) aggregates — removes q_percentiles' per-group "
    "agg-buffer memory bound, so even a whole-table group is a sort, "
    "not an OOM. Same (flag, year) grouping and quantiles as "
    "q_percentiles; integer cents, floor(x+0.5) rounding, oracle "
    "generated from the same spec table as the Spark expressions.",
)
def q_percentiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.percentiles import (
        exact_percentiles_distributed,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_shipdate", "l_extendedprice"
    )
    return exact_percentiles_distributed(
        li,
        "l_extendedprice",
        _PCTL_DIST_PROBS,
        ["l_returnflag", F.year("l_shipdate").cast("int").alias("ship_year")],
    )


@query(
    "q_snapshot_diff",
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_orderkey % 7 != 0
    ),
    n AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END AS c
      FROM orders WHERE o_orderkey % 5 != 0
    ),
    j AS (
      SELECT COALESCE(o.k, n.k) AS o_orderkey,
             CASE WHEN o.k IS NULL THEN 'added'
                  WHEN n.k IS NULL THEN 'removed'
                  WHEN o.c IS DISTINCT FROM n.c THEN 'changed'
                  END AS change,
             COALESCE(o.c, -1) AS old_c,
             COALESCE(n.c, -1) AS new_c
      FROM o FULL JOIN n ON o.k = n.k
    )
    SELECT o_orderkey, change, old_c, new_c FROM j WHERE change IS NOT NULL
    """,
    description="Snapshot diff (operators/cdc.table_diff — the inverse "
    "of CDC apply): two deterministic snapshots of orders (simulated "
    "deletes via modulus filters, simulated updates via a +1-cent "
    "perturbation) are reconciled by ONE key-co-partitioned full outer "
    "join with null-safe struct comparison, emitting only the "
    "added/removed/changed set — the change-data-feed a lake derives "
    "from plain snapshots after the fact. Exact integer cents; "
    "sentinel −1 for the absent side.",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.cdc import table_diff

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    old = o.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", cents.alias("c")
    )
    new = o.where(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        (cents + F.when(F.col("o_orderkey") % 11 == 0, 1).otherwise(0)).alias("c"),
    )
    d = table_diff(old, new, ["o_orderkey"], ["c"])
    return d.select(
        "o_orderkey",
        "change",
        F.coalesce(F.col("old_c"), F.lit(-1)).alias("old_c"),
        F.coalesce(F.col("new_c"), F.lit(-1)).alias("new_c"),
    )


@query(
    "q_impute_mode",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS et
      FROM events
    ),
    cnt AS (SELECT user_id, et, count(*) AS c
            FROM base WHERE et IS NOT NULL GROUP BY 1, 2),
    m AS (SELECT user_id, (max({'c': c, 'v': et})).v AS mode_et
          FROM cnt GROUP BY user_id)
    SELECT b.event_id, b.user_id,
           COALESCE(b.et, m.mode_et, 'UNKNOWN') AS event_type_filled,
           b.et IS NULL AS was_imputed
    FROM base b LEFT JOIN m ON b.user_id = m.user_id
    """,
    description="Categorical repair (operators/quality.mode_impute): "
    "'error' event types are treated as missing and imputed with the "
    "per-user MODE of the observed types — argmax via max(struct(cnt, "
    "value)) (map-side combining, deterministic largest-value "
    "tie-break, mirrored by duckdb's named-struct max), one count "
    "aggregate + one key join back; all-missing keys fall back to a "
    "sentinel. The fill-forward of data cleaning for categories, "
    "never-null output.",
)
def q_impute_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.quality import mode_impute

    base = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("event_type"))
        .alias("et"),
    )
    out = mode_impute(base, "et", ["user_id"])
    return out.select(
        "event_id",
        "user_id",
        F.col("et_filled").alias("event_type_filled"),
        "was_imputed",
    )


@query(
    "q_window_range_frame",
    oracle="""
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
             AS trail_sum_c,
           CAST(count(*) OVER w AS BIGINT) AS trail_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                 RANGE BETWEEN 21600000 PRECEDING AND CURRENT ROW)
    """,
    description="RANGE-framed window aggregate — SURVEY §2.10's last "
    "frame family: each event's trailing 6-hour per-user sum/count via "
    "RANGE BETWEEN <ms> PRECEDING (VALUE-based bounds, so ts ties share "
    "one frame deterministically — no tie-break needed, unlike ROWS "
    "frames). The moving time-window aggregate computed in ONE "
    "partition-keyed sort — the shape that replaces a per-event "
    "interval self-join. Exact integer cents.",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        windows_batch.epoch_ms(F.col("ts")).alias("ts_ms"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ms"))
        .rangeBetween(-21_600_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.sum("cents").over(w).alias("trail_sum_c"),
        F.count("*").over(w).alias("trail_n"),
    )


@query(
    "q_kanon_pseudonymize",
    oracle="""
    WITH b AS (
      SELECT sha256('spp|' || CAST(c_custkey AS VARCHAR)) AS pseudonym,
             CAST(c_nationkey AS VARCHAR) AS nation,
             CAST(CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT) / 100000.0)
                  AS BIGINT) AS VARCHAR) AS bal_bucket
      FROM customer
    ),
    g AS (SELECT *, count(*) OVER (PARTITION BY nation, bal_bucket) AS gn FROM b)
    SELECT pseudonym,
           CASE WHEN gn >= 5 THEN nation ELSE '*' END AS nation,
           CASE WHEN gn >= 5 THEN bal_bucket ELSE '*' END AS bal_bucket,
           CAST(CASE WHEN gn >= 5 THEN gn ELSE -1 END AS BIGINT) AS group_n
    FROM g
    """,
    description="Privacy release gate (operators/privacy.py): customers "
    "keyed by a consistent salted sha2-256 pseudonym (pure column expr, "
    "no shuffle, joins still line up) with (nation, $1000-balance-"
    "bucket) quasi-identifiers k-anonymized at k=5 — one window count "
    "over the quasi group (single keyed shuffle), sub-k groups "
    "suppressed to '*' with a −1 size sentinel (a too-small group's "
    "size is itself identifying). Hex digests and floor-bucketing "
    "match cross-engine exactly.",
)
def q_kanon_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.privacy import (
        k_anonymize,
        pseudonymize,
    )

    c = load_table(spark, sf_dir, "customer").select(
        pseudonymize("c_custkey", "spp").alias("pseudonym"),
        F.col("c_nationkey").cast("string").alias("nation"),
        F.floor(F.round(F.col("c_acctbal") * 100).cast("long") / F.lit(100000.0))
        .cast("long")
        .cast("string")
        .alias("bal_bucket"),
    )
    return k_anonymize(c, ["nation", "bal_bucket"], k=5)


# Sufficient-statistics regression/correlation: Spark and the oracle
# both compute from the SAME five exact-integer sums. The final algebra
# runs in DOUBLE on both engines (the cross-products n·Σxy overflow
# int64 at scale; every IEEE mul/div/sqrt is correctly rounded, so the
# doubles are still bit-identical) before the floor(x*1e6+0.5)
# quantization. y is integral DOLLARS, not cents, so Σy² itself stays
# inside BIGINT at any tested SF; at extreme scale the sums shard
# hierarchically (they are monoids — see rollup.aggregate_state).
_CORR_FINAL = (
    "floor((nd * sxyd - sxd * syd)"
    " / sqrt(nd * sxxd - sxd * sxd)"
    " / sqrt(nd * syyd - syd * syd) * 1000000.0 + 0.5)"
)
_SLOPE_FINAL = (
    "floor((nd * sxyd - sxd * syd)"
    " / (nd * sxxd - sxd * sxd) * 1000000.0 + 0.5)"
)


@query(
    "q_correlation",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
             CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)
                      * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sxx,
             CAST(sum(CAST(round(l_extendedprice) AS BIGINT)
                      * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS syy,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)
                      * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sxy
      FROM lineitem
      GROUP BY l_returnflag
    ),
    d AS (
      SELECT l_returnflag, n,
             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
             CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
             CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
      FROM s
    )
    SELECT l_returnflag, n,
           CAST({_CORR_FINAL} AS BIGINT) AS corr_ppm,
           CAST({_SLOPE_FINAL} AS BIGINT) AS slope_ppm
    FROM d
    """,
    description="Exact Pearson correlation + OLS slope per return flag "
    "from sufficient statistics: ONE map-side-combinable pass collects "
    "five exact-integer sums (quantity integral, price in cents — "
    "order-independent BIGINT adds), and the read-time select derives "
    "corr and slope with the identical IEEE mul/div/sqrt sequence on "
    "both engines (all correctly rounded ops → bit-identical doubles), "
    "quantized ppm via floor(x*1e6+0.5). The statistical-aggregate "
    "family beyond percentiles/MAD — no second pass, no centering "
    "numerics.",
)
def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("long")
    y = F.round(F.col("l_extendedprice")).cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    syyd = F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    corr = F.floor(
        (nd * sxyd - sxd * syd)
        / F.sqrt(nd * sxxd - sxd * sxd)
        / F.sqrt(nd * syyd - syd * syd)
        * 1_000_000.0
        + 0.5
    )
    slope = F.floor(
        (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * 1_000_000.0 + 0.5
    )
    return s.select(
        "l_returnflag",
        "n",
        corr.cast("long").alias("corr_ppm"),
        slope.cast("long").alias("slope_ppm"),
    )


_WINS_PROBS = {"p05_c": 0.05, "p95_c": 0.95}


def _winsorize_oracle() -> str:
    base = (
        "SELECT l_returnflag,"
        " CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem"
    )
    ctes = _rank_select_ctes("l_returnflag", base, _WINS_PROBS)
    return f"""
    WITH {ctes}
    SELECT b.l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN b.c < g.p05_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(sum(CASE WHEN b.c > g.p95_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           CAST(sum(least(greatest(b.c, g.p05_c), g.p95_c)) AS BIGINT)
             AS sum_winsorized_c
    FROM b JOIN g USING (l_returnflag)
    GROUP BY b.l_returnflag
    """


@query(
    "q_winsorize",
    oracle=_winsorize_oracle(),
    description="Winsorization (outlier clipping for robust feature "
    "engineering): per return flag, prices clip to the exact "
    "[p05, p95] computed by the distributed rank-select quantiles "
    "(operators/percentiles.exact_percentiles_distributed — external "
    "sort, no group buffer), then a broadcast join (per-group bounds "
    "are one row per group, small-by-construction → explicit hint per "
    "the AQE small-SF rule) feeds the clipped aggregate. The oracle "
    "reuses the SAME generated rank-select CTEs as "
    "q_percentiles_distributed. Exact integer cents end to end.",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.percentiles import (
        exact_percentiles_distributed,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    bounds = exact_percentiles_distributed(
        li, "l_extendedprice", _WINS_PROBS, ["l_returnflag"]
    ).select("l_returnflag", "p05_c", "p95_c")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    joined = li.select("l_returnflag", cents.alias("c")).join(
        F.broadcast(bounds), "l_returnflag"
    )
    clipped = F.least(F.greatest(F.col("c"), F.col("p05_c")), F.col("p95_c"))
    return joined.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum((F.col("c") < F.col("p05_c")).cast("long")).alias("n_clipped_low"),
        F.sum((F.col("c") > F.col("p95_c")).cast("long")).alias("n_clipped_high"),
        F.sum(clipped).alias("sum_winsorized_c"),
    )


_AR_MIN_CO = 2
_AR_MAX_BASKET = 100


@query(
    "q_association_rules",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
    ok AS (SELECT bk FROM b GROUP BY bk HAVING count(*) <= {_AR_MAX_BASKET}),
    bb AS (SELECT b.* FROM b JOIN ok USING (bk)),
    nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM bb),
    sup AS (SELECT it, CAST(count(*) AS BIGINT) AS cnt FROM bb GROUP BY it),
    p AS (SELECT l.it AS item_a, r.it AS item_b,
                 CAST(count(*) AS BIGINT) AS co_count
          FROM bb l JOIN bb r ON l.bk = r.bk AND l.it < r.it
          GROUP BY 1, 2 HAVING count(*) >= {_AR_MIN_CO})
    SELECT item_a, item_b, co_count,
           CAST((co_count * 1000000) // nb.n AS BIGINT) AS supp_ppm,
           CAST((co_count * 1000000) // sa.cnt AS BIGINT) AS conf_a_to_b_ppm,
           CAST((CAST(co_count AS HUGEINT) * nb.n * 1000000)
                // (CAST(sa.cnt AS HUGEINT) * sb.cnt) AS BIGINT) AS lift_ppm
    FROM p
    JOIN sup sa ON sa.it = p.item_a
    JOIN sup sb ON sb.it = p.item_b
    CROSS JOIN nb
    """,
    description="Association rules / market-basket mining (operators/"
    "ranking.association_rules): 2-itemsets over order baskets with "
    "support, confidence and lift in exact integer ppm — distinct-per-"
    "basket first, oversized baskets capped BEFORE the pair expansion "
    "(the winnowing skew rule), basket-keyed self-join (no cross-"
    "basket product), per-item supports broadcast back. The Apriori "
    "pair level every recommender/affinity pipeline starts from.",
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.ranking import association_rules

    li = load_table(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey",
        min_co=_AR_MIN_CO, max_basket_items=_AR_MAX_BASKET,
    )


@query(
    "q_rolling_slope",
    oracle="""
    WITH b AS (
      SELECT event_id, user_id,
             epoch_ms(ts) AS ts_ms,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    r AS (
      SELECT event_id, user_id, ts_ms, v,
             (ts_ms - min(ts_ms) OVER (PARTITION BY user_id)) // 1000 AS t
      FROM b
    ),
    s AS (
      SELECT event_id, user_id, ts_ms,
             CAST(count(*) OVER w AS BIGINT)   AS n,
             CAST(sum(t) OVER w AS BIGINT)     AS st,
             CAST(sum(v) OVER w AS BIGINT)     AS sv,
             CAST(sum(t * t) OVER w AS BIGINT) AS stt,
             CAST(sum(t * v) OVER w AS BIGINT) AS stv
      FROM r
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
                   RANGE BETWEEN 21600000 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, ts_ms, n,
           CAST(CASE
             WHEN CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st = 0.0 THEN 0
             ELSE floor((CAST(n AS DOUBLE) * stv - CAST(st AS DOUBLE) * sv)
                        / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                        * 1000000.0 + 0.5)
           END AS BIGINT) AS slope_ppm
    FROM s
    """,
    description="Rolling OLS trend features: each event's trailing "
    "6-hour per-user regression slope (cents per second, integer ppm) "
    "from five sufficient-statistic sums maintained by ONE RANGE-"
    "framed window pass — the q_correlation algebra fused with the "
    "q_window_range_frame shape; no per-window self-join, one "
    "partition-keyed sort. t is rebased per user (seconds since first "
    "event) so the integer sums stay in range; final algebra in "
    "identical IEEE doubles with floor(x+0.5), degenerate windows "
    "(single point / zero time spread) emit the 0 sentinel.",
)
def q_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        windows_batch.epoch_ms(F.col("ts")).alias("ts_ms"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    wu = Window.partitionBy("user_id")
    # integer floor division on both engines — duckdb's / is FLOAT
    # division and its double->int cast ROUNDS, Spark's truncates
    r = e.withColumn("_mn", F.min("ts_ms").over(wu)).withColumn(
        "t", F.expr("(ts_ms - _mn) div 1000")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_ms"))
        .rangeBetween(-21_600_000, 0)
    )
    s = r.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.count("*").over(w).alias("n"),
        F.sum("t").over(w).alias("st"),
        F.sum("v").over(w).alias("sv"),
        F.sum(F.col("t") * F.col("t")).over(w).alias("stt"),
        F.sum(F.col("t") * F.col("v")).over(w).alias("stv"),
    )
    nd = F.col("n").cast("double")
    std, svd = F.col("st").cast("double"), F.col("sv").cast("double")
    denom = nd * F.col("stt") - std * F.col("st")
    slope = F.when(denom == 0.0, F.lit(0)).otherwise(
        F.floor((nd * F.col("stv") - std * svd) / denom * 1_000_000.0 + 0.5)
    )
    return s.select(
        "event_id", "user_id", "ts_ms", "n", slope.cast("long").alias("slope_ppm")
    )


def _apct_oracle() -> str:
    """q_approx_percentile's oracle: the sketch only PRUNES — the final
    answer is the exact interpolated quantile, so the oracle is the
    same rank-select CTE chain as q_percentiles_distributed (one
    generator, every consumer)."""
    base = (
        "SELECT l_returnflag,"
        " CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem"
    )
    ctes = _rank_select_ctes("l_returnflag", base, _APCT_PROBS)
    cols = ", ".join(
        f"CAST({a} AS DOUBLE) / 100.0 AS {out}" for a, out in _APCT_OUT.items()
    )
    return f"""
    WITH {ctes}
    SELECT l_returnflag, {cols}, CAST(gn AS BIGINT) AS n
    FROM g
    """


_REG["q_approx_percentile"] = _dc_replace(
    _REG["q_approx_percentile"], oracle=_apct_oracle()
)
