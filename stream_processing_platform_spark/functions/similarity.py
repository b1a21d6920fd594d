"""Vector-similarity functions over embedding columns (array<float>).

All hot-path math is JVM-side higher-order functions (zip_with +
aggregate) over double-cast arrays — no Python, no UDF. For 100 TB the
brute-force path is quadratic; the scale paths are the IVF/LSH variants in
``operators/ann.py`` which bound the candidate set before the exact math.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order — matches
    duckdb's list_inner_product on DOUBLE[] bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
