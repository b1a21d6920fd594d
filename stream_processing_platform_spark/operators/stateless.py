"""Stateless row operators — map / filter / flat_map / key_by.

Reference: ``taskmanager/operators/stateless.py:14-152`` implements these
as row-at-a-time Python callables. Here they are declarative DataFrame
combinators so Catalyst keeps pushdown/pruning/codegen; arbitrary Python
logic goes through Arrow-vectorized pandas UDFs, never per-row Python.

The reference swallows UDF exceptions by dropping the record
(``stateless.py:39-45``). We deliberately diverge: native expressions
fail-fast; the error-drop behavior is available explicitly via
``try_``-style expressions (e.g. ``F.try_cast`` + ``dropna``) where a
query wants it (SURVEY.md §7 risk #4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_rows(df: DataFrame, predicate: Column) -> DataFrame:
    """FilterOperator: keep rows where predicate is true.

    Predicates built from native Columns are pushed down to the scan.
    """
    return df.where(predicate)


def flat_map_explode(df: DataFrame, out_col: str, array_expr: Column) -> DataFrame:
    """FlatMapOperator (1→N): explode an array-valued expression.

    The canonical tokenize case (``examples/word_count.py:19-21`` in the
    reference) is ``flat_map_explode(df, "word", F.split(F.lower("value"),
    r"\\s+"))``.
    """
    return df.select("*", F.explode(array_expr).alias(out_col))


def key_by(df: DataFrame, *key_cols: Column | str, num_partitions: int | None = None) -> DataFrame:
    """KeyByOperator: hash-partition by key columns (SHUFFLE edge).

    Usually unnecessary — ``groupBy``/``join`` shuffle on their own keys and
    Catalyst reuses exchanges. Explicit repartition is for co-locating
    several downstream per-key operations on one shuffle.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return df.repartition(num_partitions, *cols) if num_partitions else df.repartition(*cols)


def rebalance(df: DataFrame, num_partitions: int) -> DataFrame:
    """REBALANCE edge: round-robin redistribute to even out skew."""
    return df.repartition(num_partitions)
