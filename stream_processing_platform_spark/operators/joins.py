"""Join operators.

The reference has exactly one join algorithm: a per-key nested-loop over
time-bounded buffers (``taskmanager/operators/stateful.py:345-465``,
interval equi-join, |t_l - t_r| <= bound). Spark supplies the full join
matrix natively; we expose interval joins as a helper plus broadcast
utilities. Each matched pair is emitted once (the reference's double
emission is an artifact — SURVEY.md §7 risk #2 declares once-per-pair the
intended semantics).

Scale notes: an interval equi-join is a hash-partitioned equi-join on the
key columns with the range predicate evaluated inside the joined
partitions — the shuffle is on the equi keys only, so it parallelizes like
any other join; skewed keys are handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts_ms: str,
    right_ts_ms: str,
    lower_ms: int,
    upper_ms: int,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with a time-range condition:

    ``right.ts ∈ [left.ts + lower_ms, left.ts + upper_ms]``.

    The reference's symmetric bound (|Δ| <= b) is ``lower_ms=-b,
    upper_ms=b``. Column name collisions must be resolved by aliasing
    before the call (use ``df.alias``).
    """
    cond = None
    for k in on:
        c = left[k] == right[k]
        cond = c if cond is None else cond & c
    rng = (right[right_ts_ms] >= left[left_ts_ms] + lower_ms) & (
        right[right_ts_ms] <= left[left_ts_ms] + upper_ms
    )
    cond = rng if cond is None else cond & rng
    out = left.join(right, cond, how)
    # Using-join ergonomics: each equi-key appears once in the result
    # (keep the side that is never null for the join type).
    if how in ("inner", "left", "left_outer", "cross"):
        for k in on:
            out = out.drop(right[k])
    elif how in ("right", "right_outer"):
        for k in on:
            out = out.drop(left[k])
    else:  # full outer: neither side is total — coalesce
        for k in on:
            out = (
                out.withColumn(f"__k_{k}", F.coalesce(left[k], right[k]))
                .drop(left[k])
                .drop(right[k])
                .withColumnRenamed(f"__k_{k}", k)
            )
    return out


def broadcast_join(
    fact: DataFrame, dim: DataFrame, on: list[str] | str, how: str = "inner"
) -> DataFrame:
    """Join a large fact table against a small dimension, replicating the
    dimension to every executor (BROADCAST edge, ``jobmanager/
    job_graph.py:11-17``) — no shuffle of the fact side."""
    return fact.join(broadcast(dim), on, how)


def semi_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: list[str] | str) -> DataFrame:
    return left.join(right, on, "left_anti")


def range_join(
    fact: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    how: str = "inner",
) -> DataFrame:
    """Numeric range (band) join: match each fact row to the band whose
    [lo, hi) interval contains its value — pricing tiers, size buckets,
    SLA classes.

    There is no equi key, so this is inherently a nested-loop shape; it
    is only scale-sane when the band table is SMALL (it virtually always
    is — tiers are human-defined). The band side is broadcast
    explicitly, making the plan a BroadcastNestedLoopJoin: fact never
    shuffles, cost = |fact| × |bands| comparisons, embarrassingly
    parallel. For large band tables, bucketize the value into an equi
    key instead (e.g. width_bucket) — that variant IS an equi-join and
    belongs to the caller.
    """
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return fact.join(broadcast(bands), cond, how)


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts_ms: str,
    right_ts_ms: str,
    direction: str = "backward",
    tolerance_ms: int | None = None,
) -> DataFrame:
    """As-of join: for each left row, the single nearest right row at-or-
    before (``backward``) / at-or-after (``forward``) its timestamp.

    Not in the reference; standard in time-series engines. Implemented as
    :func:`interval_join` + a per-left-row argmax: ``max(struct(key,
    right columns…))`` grouped by the left columns, with key = right ts
    (backward) or -right ts (forward). The aggregate combines map-side
    — no window sort over the join expansion — and after a shuffle join
    the equi-key partitioning already satisfies the grouping.
    Deterministic: a tie on the right ts goes to the largest remaining
    right columns in column order. A left row is identified by its full
    content, so exact-duplicate left rows yield one output row. Inner
    semantics: left rows with no match inside the tolerance are dropped.
    Column names other than ``on`` must be distinct across the two sides
    (alias before the call).
    """
    if direction == "backward":
        lower, upper, key = -(tolerance_ms or 2**62), 0, F.col(right_ts_ms)
    elif direction == "forward":
        lower, upper, key = 0, tolerance_ms or 2**62, -F.col(right_ts_ms)
    else:
        raise ValueError(f"unknown direction {direction!r}")

    # by name, not right[c]: in a self-join (both sides derived from one
    # DataFrame) the dataset-tagged references resolve to the wrong side
    rest = [c for c in right.columns if c not in on]
    best = F.max(F.struct(key.alias("_k"), *[F.col(c) for c in rest]))
    return (
        interval_join(left, right, on, left_ts_ms, right_ts_ms, lower, upper)
        .groupBy(*left.columns)
        .agg(best.alias("_best"))
        .select(*left.columns, *[F.col("_best")[c].alias(c) for c in rest])
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated shuffle join: split every join key into
    ``salt_buckets`` sub-keys.

    The big (skewed) side gets a deterministic per-row salt — a hash over
    all of its columns, so the hot key's rows spread across buckets — and
    the small side is replicated once per bucket. Joining on
    ``on + [salt]`` makes the hottest partition 1/salt_buckets the size,
    at the cost of shuffling the small side salt_buckets times. Result is
    row-identical to the plain join (salting only changes distribution),
    which is exactly what lets the duckdb oracle check it with plain SQL.

    AQE's skew-join split (enabled in session.py) is the first line of
    defense; explicit salting is for the cases AQE can't fix — e.g. a
    single key too hot for any partition-level split, or a non-AQE
    engine boundary. Reference has no answer to skew at all (its SHUFFLE
    edge is a plain hash, jobmanager/job_graph.py:11-17).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_buckets))
    big_s = big.withColumn("_salt", salt)
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = big_s.join(small_s, [*on, "_salt"], how)
    return out.drop("_salt")


def near_pairs(
    df: DataFrame,
    id_col: str,
    value_col: str,
    radius: int,
    key_cols: list[str] | str = (),
) -> DataFrame:
    """All unordered pairs with ``|value_a − value_b| ≤ radius`` (and
    equal ``key_cols``) — the banded numeric self-join.

    The naive form is a per-key quadratic product; the scale shape is
    bucketing by ``floor(value / radius)``: any qualifying pair sits in
    the same or adjacent bucket, so each row probes exactly TWO buckets
    (its own and the next — an explode over two candidate keys), the
    join is pure equi on (keys…, bucket) — one shuffle, no product —
    and the exact |diff| filter prunes false candidates. Candidate
    count is bounded by bucket occupancy (data density × radius), not
    by key-group size.

    Each pair is emitted exactly once, canonically ordered by the
    (value, id) tuple: ``id_a`` is the lower endpoint. Adjacent-bucket
    candidates can only originate from the lower endpoint (the upper's
    probe buckets don't reach back), and same-bucket reversals are cut
    by the tuple filter. Output: id_a, id_b.
    """
    if radius < 1:
        raise ValueError(
            "near_pairs needs radius >= 1 (for exact-equality pairs use a "
            "plain groupBy on the value)"
        )
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    # Bucket ids must be EXACT: floor(value/radius) is a DOUBLE division,
    # and past 2^53 the quotient loses ulps — a boundary row lands in the
    # wrong bucket and its qualifying pairs silently vanish (the same
    # float-division class CLAUDE.md flags for oracles). For integral
    # value columns compute the floor in pure integer arithmetic:
    # (v - pmod(v, r)) div r — pmod is non-negative, so this is a true
    # floor for negative values too (bare `div` truncates toward zero).
    integral = dict(df.dtypes).get(value_col) in ("tinyint", "smallint", "int", "bigint")
    if integral:
        bk = F.expr(
            f"(`{value_col}` - pmod(`{value_col}`, {int(radius)})) div {int(radius)}"
        ).cast("long")
    else:
        bk = F.floor(F.col(value_col) / F.lit(radius)).cast("long")
    left = df.select(
        F.col(id_col).alias("_ida"), *keys, F.col(value_col).alias("_va"),
        F.explode(F.array(bk, bk + 1)).alias("_bk"),
    )
    right = df.select(
        F.col(id_col).alias("_idb"),
        *[F.col(k).alias(f"_r_{k}") for k in keys],
        F.col(value_col).alias("_vb"),
        bk.alias("_r_bk"),
    )
    cond = F.col("_bk") == F.col("_r_bk")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"_r_{k}"))
    return (
        left.join(right, cond)
        .filter(
            (F.col("_vb") - F.col("_va") <= radius)
            & (
                F.struct(F.col("_va"), F.col("_ida"))
                < F.struct(F.col("_vb"), F.col("_idb"))
            )
        )
        .select(F.col("_ida").alias("id_a"), F.col("_idb").alias("id_b"))
    )
