"""Expression-form references for the Arrow-vectorized operators.

Each operator in the package has ONE implementation: a vectorized
mapInPandas / pandas_udf stage (numpy over Arrow batches). The forms
below are the pure Catalyst-expression twins those stages replaced.
They are slower (interpreted HOF lambdas per element) but mirror the
duckdb oracles operation-for-operation, so the pin tests compare the
library output against them row for row:

- the integer twins (simhash, winnow, gram hashes) must match EXACTLY;
- the float twins (semdedup members, PQ encode, IVF cells, hyperplane
  signatures) differ only by numpy pairwise vs sequential summation
  (~1e-15), below the 1e-6 rounding step each stage applies before its
  argmin, so their outputs must match too.

A mismatch is a bug in the library's vectorized path: fix it there,
never by switching the library to these forms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stream_processing_platform_spark.functions.similarity import (
    as_double_array,
    cosine,
    dot,
)
from stream_processing_platform_spark.functions.text import (
    WINNOW_HASH_B,
    WINNOW_HASH_M,
    let,
    normalize_text,
)
from stream_processing_platform_spark.operators import ann, dedup
from stream_processing_platform_spark.partitioning import ensure_min_parallelism

# ---------------------------------------------------------------------------
# Winnow / substring gram hashes (functions/text.py)
# ---------------------------------------------------------------------------


def _poly_gram_hash(codes: Column, j: Column, k: int) -> Column:
    """Hash of the k-char gram starting at 0-based position ``j`` of the
    codepoint array: chars past the end contribute 0 (matching the
    clipped-slice semantics both engines apply to short docs)."""
    powers = [pow(WINNOW_HASH_B, k - 1 - i, WINNOW_HASH_M) for i in range(k)]
    terms = [
        (F.coalesce(F.get(codes, j + i), F.lit(0)) * F.lit(powers[i])) % WINNOW_HASH_M
        for i in range(k)
    ]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc % WINNOW_HASH_M


def _codes_and_hashes(text: Column, k: int, body):
    """Bind the normalized text's codepoint array and its per-position
    gram hashes once, then apply ``body(hashes)``. Codepoints come from
    ``ascii(substr(...))``, which equals duckdb's ``unicode(...)``."""
    return let(
        normalize_text(text),
        lambda norm: let(
            let(
                F.when(F.length(norm) > 0, F.transform(
                    F.sequence(F.lit(1), F.length(norm)),
                    lambda i: F.ascii(norm.substr(i, F.lit(1))).cast("long"),
                )).otherwise(F.array().cast("array<long>")),
                lambda codes: F.transform(
                    F.sequence(F.lit(0), F.greatest(F.length(norm) - k, F.lit(0))),
                    lambda j: _poly_gram_hash(codes, j, k),
                ),
            ),
            body,
        ),
    )


def gram_hashes_expr(text: Column, k: int) -> Column:
    """Expression twin of ``functions.text.gram_hashes``."""
    return _codes_and_hashes(text, k, lambda hashes: hashes)


def winnow_fingerprints_expr(text: Column, k: int = 12, w: int = 6) -> Column:
    """Expression twin of ``functions.text.winnow_fingerprints``: the
    gram hashes above, then each w-window's minimum, deduped."""
    return _codes_and_hashes(
        text,
        k,
        lambda hashes: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(hashes) - (w - 1), F.lit(1))),
                lambda j: F.array_min(F.slice(hashes, j, w)),
            )
        ),
    )


# ---------------------------------------------------------------------------
# SimHash (operators/dedup.py::simhash_pairs)
# ---------------------------------------------------------------------------


def simhash_bits(toks: Column, num_bits: int = 64) -> Column:
    """SimHash as a bit array: bit i is 1 when the sum over tokens of ±1
    is positive, where token t votes ``+1`` iff
    ``((a_i·h(t) + b_i) mod p)·2 < p`` with ``h(t)`` the first 15 md5
    hex digits of t as an integer, mod p — the same integer expression
    the q_simhash_pairs oracle evaluates."""
    mixers = dedup.simhash_mixers(num_bits)
    M = F.array(
        *[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in mixers]
    )
    P = dedup.SIMHASH_P

    def body(hs: Column) -> Column:
        return F.transform(
            M,
            lambda m: F.when(
                F.aggregate(
                    hs,
                    F.lit(0),
                    lambda acc, h: acc
                    + F.when(((m["a"] * h + m["b"]) % P) * 2 < P, 1).otherwise(-1),
                )
                > 0,
                1,
            ).otherwise(0),
        )

    hs = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long") % P,
    )
    return let(hs, body)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (operators/dedup.py::hyperplane_lsh_pairs)
# ---------------------------------------------------------------------------


def hyperplane_lsh_pairs_expr(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_bits: int = 192,
    bands: int = 12,
    seed: int = 0x5EED,
) -> DataFrame:
    """Expression twin of ``dedup.hyperplane_lsh_pairs``: the same
    hyperplanes and verify tail, with the sign bits computed by nested
    HOF folds. The ±1 matrix embeds as ONE parsed SQL array literal that
    Catalyst constant-folds (per-element ``F.lit`` py4j conversion takes
    ~7 s; a 1-row crossJoin trips the no-nested-loop plan gate)."""
    width = num_bits // bands
    base = ensure_min_parallelism(df).select(
        F.col(id_col).alias("_id"), as_double_array(F.col(vec_col)).alias("_v")
    )
    planes = dedup._lsh_planes(df, vec_col, num_bits, seed)
    matrix = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join("1.0D" if v > 0 else "-1.0D" for v in row) + ")"
            for row in planes
        )
        + ")"
    )

    def bits_body(v: Column) -> Column:
        # referencing `matrix` directly lets ConstantFolding collapse it
        # to one Literal; wrapping it in let()/a lambda variable would
        # block folding and re-materialize the array per row
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_bits - 1)),
            lambda i: F.when(
                F.aggregate(
                    F.zip_with(
                        v,
                        F.element_at(matrix, (i + 1).cast("int")),
                        lambda x, h: x * h,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                > 0,
                1,
            ).otherwise(0),
        )

    fp = base.select("_id", let(F.col("_v"), bits_body).alias("_fp"))
    banded = fp.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.aggregate(
                        F.slice(F.col("_fp"), b * width + 1, width),
                        F.lit(0).cast("long"),
                        lambda acc, bit: acc * 2 + bit,
                    ).alias("chunk"),
                ),
            )
        ).alias("_bb"),
    ).select("_id", "_bb.band", "_bb.chunk")
    return dedup._lsh_verify(banded, base, threshold)


# ---------------------------------------------------------------------------
# SemDeDup (operators/dedup.py::semantic_dedup)
# ---------------------------------------------------------------------------


def sem_members_expr(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_id: str,
    centroid_vec: str,
) -> DataFrame:
    """Expression twin of ``dedup._sem_members``: (id, cluster, _v,
    _nrm), assignment over l2-normalized vectors via
    ``clustering.assign_expr``."""
    from stream_processing_platform_spark.operators.clustering import _normed, assign_expr

    normed = ensure_min_parallelism(df).select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("_v"),
    ).select(F.col(id_col), F.col("_v"), _normed(F.col("_v")).alias("_nv"))
    assigned = assign_expr(
        normed.select(id_col, "_nv"),
        centroids,
        id_col=id_col,
        vec_col="_nv",
        centroid_id=centroid_id,
        centroid_vec=centroid_vec,
    ).select(id_col, "cluster")
    return assigned.join(normed.select(id_col, "_v"), id_col).select(
        F.col(id_col),
        F.col("cluster"),
        F.col("_v"),
        F.sqrt(dot(F.col("_v"), F.col("_v"))).alias("_nrm"),
    )


def semantic_dedup_expr(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cid",
    centroid_vec: str = "cvec",
    threshold: float = 0.95,
) -> DataFrame:
    """``dedup.semantic_dedup`` with the expression-form member prep."""
    members = sem_members_expr(df, centroids, id_col, vec_col, centroid_id, centroid_vec)
    return dedup._drop_cluster_dups(members, id_col, threshold)


# ---------------------------------------------------------------------------
# PQ encode / IVF cells (operators/ann.py)
# ---------------------------------------------------------------------------


def encode_codes_expr(
    df: DataFrame,
    id_name: str,
    vec_name: str,
    codebook: DataFrame,
    dim: int,
    num_subspaces: int,
    normalize: bool,
) -> DataFrame:
    """Expression twin of ``ann._encode_codes``: explode rows x
    subspaces, join the broadcast codebook, argmin the 1e-6-rounded L2
    as min(struct(dist, code)), re-collect the codes in subspace order."""
    vec = ann._l2_normalized(F.col(vec_name)) if normalize else F.col(vec_name)
    subs = df.select(
        id_name, F.posexplode(ann._subvectors(vec, dim, num_subspaces)).alias("m", "sub")
    )
    return (
        subs.join(F.broadcast(codebook), "m")
        .withColumn(
            "_d", F.floor(ann._l2sq(F.col("sub"), F.col("csub")) * 1e6 + F.lit(0.5))
        )
        .groupBy(id_name, "m")
        .agg(F.min(F.struct("_d", "code"))["code"].alias("code"))
        .groupBy(id_name)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))), lambda s: s["code"]
            ).alias("codes")
        )
    )


def assign_cells_expr(
    c: DataFrame,
    centroids: DataFrame,
    id_name: str = "cid",
    vec_name: str = "_cv",
) -> DataFrame:
    """Expression twin of ``ann._assign_cells``: crossJoin the broadcast
    centroids, argmax the 1e-6-rounded cosine as min(struct(-sim,
    cell)). Output: (cell, id_name)."""
    rounded = F.floor(cosine(F.col(vec_name), F.col("_centroid")) * 1e6 + F.lit(0.5)) / 1e6
    return (
        c.crossJoin(F.broadcast(centroids))
        .withColumn("_sim", rounded)
        .groupBy(id_name)
        .agg(
            F.min(F.struct((-F.col("_sim")).alias("_neg"), F.col("cell")))["cell"].alias(
                "cell"
            )
        )
        .select("cell", id_name)
    )
