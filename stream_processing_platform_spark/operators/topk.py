"""Sorts / limits / top-k / set operations (SURVEY.md §2.9-2.10).

Absent from the reference; native in Spark. Everything here is
deterministic: ties are always broken by an explicit key column so result
hashes are stable across engines and runs.

Scale notes: global ``orderBy().limit(k)`` compiles to TakeOrderedAndProject
(per-partition top-k then a k-sized merge on one reducer — no full sort).
Per-group top-k is one shuffle on the group key + in-partition sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stream_processing_platform_spark.functions.cols import as_col_list


def top_k_global(df: DataFrame, order_by, k: int) -> DataFrame:
    """Global top-k — physical plan is TakeOrderedAndProject, not a sort."""
    return df.orderBy(*as_col_list(order_by)).limit(k)


def top_k_per_group(
    df: DataFrame, partition_cols, order_by, k: int, rank_col: str = "rk"
) -> DataFrame:
    """Top-k rows per group via row_number (deterministic given a total
    order in ``order_by``)."""
    w = Window.partitionBy(*as_col_list(partition_cols)).orderBy(*as_col_list(order_by))
    return df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)


def union_all(*dfs: DataFrame) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def minus(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.subtract(b)
