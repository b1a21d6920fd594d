"""Deduplication operators — exact and near-duplicate detection.

Reference surface: per-key seen-set dedup
(``examples/stateful_deduplication.py:18-49``) → batch form is
keep-first-by-key; streaming form is ``dropDuplicates`` with watermark
(streaming/dedup.py). The near-dup family (MinHash-LSH, SimHash, n-gram
Jaccard, embedding cosine) is the LLM-pipeline extension.

Scale design:
- Everything is shuffle-bounded by LSH buckets or group keys — never an
  all-pairs cross join. Brute-force pair generation exists only inside a
  bucket/group.
- MinHash signatures are computed with JVM higher-order functions
  (xxhash64-based), zero Python in the hot path. The SimHash and
  hyperplane-LSH signatures and the SemDeDup cluster assignment run as
  Arrow-batched numpy stages (mapInPandas), each pinned by pytest to
  its expression twin in ``tests/twin_refs.py``.
- Candidate pairs are always verified with the exact measure, so LSH
  parameters only affect recall, not precision.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint strings resolve
# in MODULE globals under `from __future__ import annotations` (CLAUDE.md)
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stream_processing_platform_spark.functions.text import portable_round, word_shingles


def dedup_keep_first(
    df: DataFrame, key_cols: list[str] | str, order_by: list[Column | str] | Column | str
) -> DataFrame:
    """Exact dedup keeping a deterministic representative per key
    (``dropDuplicates`` picks an arbitrary row; ordering makes it stable —
    required for oracle comparison and generally good hygiene). Bare
    strings are accepted for both params — ``*"doc_id"`` would otherwise
    silently splat into per-CHARACTER column references."""
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    if isinstance(order_by, (str, Column)):
        order_by = [order_by]
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two pre-deduplicated arrays."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # Shingling is the CPU-heavy stage — make sure it runs on every core
    # even when the input scan is a single unsplittable file.
    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    return df.select(F.col(id_col).alias("_id"), word_shingles(F.col(text_col), n).alias("_sh"))


def _verify_pairs(cands: DataFrame, shingled: DataFrame, threshold: float) -> DataFrame:
    """Join candidate (i,j) pairs back to shingle sets and keep exact
    Jaccard >= threshold. Output: id_a, id_b, jac (rounded, id_a < id_b)."""
    a = shingled.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sa"))
    b = shingled.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sb"))
    return (
        cands.join(a, "id_a").join(b, "id_b")
        # portable_round: jaccard is an integer quotient — round() itself
        # splits cross-engine on half-boundary values (see CLAUDE.md)
        .withColumn("jac", portable_round(jaccard(F.col("_sa"), F.col("_sb")), 6))
        .where(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram-shingle Jaccard near-dup pairs.

    With ``block_col`` the all-pairs comparison is restricted to rows
    sharing the block value (standard blocking; at scale the block is an
    LSH bucket — see :func:`minhash_lsh_pairs` for the unblocked path).
    """
    sh = _shingled(df, id_col, text_col, n)
    if block_col is not None:
        blk = df.select(F.col(id_col).alias("_id"), F.col(block_col).alias("_blk"))
        sh = sh.join(blk, "_id")
    # Inverted-index join instead of an all-pairs product: candidates are
    # pairs sharing >=1 shingle (a pair with Jaccard > 0 must), the shared
    # count IS |A∩B| (shingle arrays are distinct), and |A∪B| follows
    # from the set sizes. Work scales with sum(freq(s)^2) over shingles —
    # the exact-similarity-join idiom — not with |docs|^2.
    sizes = sh.select("_id", F.size("_sh").alias("_sz"))
    ex = sh.select("_id", F.explode("_sh").alias("_s"), *(["_blk"] if block_col else []))
    join_keys = ["_s", *(["_blk"] if block_col else [])]
    a = ex.select(F.col("_id").alias("id_a"), *join_keys)
    b = ex.select(F.col("_id").alias("id_b"), *join_keys)
    inter = (
        a.join(b, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jac",
            portable_round(
                F.col("_inter") / (F.col("_sza") + F.col("_szb") - F.col("_inter")), 6
            ),
        )
        .where(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.2,
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: for each corpus document, the
    fraction of its distinct n-gram shingles that also appear in a
    benchmark document (containment |D∩B| / |D| — the standard
    eval-set decontamination measure, directional unlike Jaccard).

    Same inverted-index shape as :func:`ngram_jaccard_pairs`: explode
    shingles, equi-join corpus→benchmark postings, count shared grams —
    work scales with shingle co-occurrence, never |corpus|×|benchmark|.
    At 100 TB the benchmark side is tiny (eval sets are ≪1 GB), so the
    postings join broadcasts. Output: doc_id, bench_id, n_shared,
    containment (rounded 6dp) for pairs at/above ``threshold``.
    """
    sh = _shingled(corpus, id_col, text_col, n)
    bench_sh = _shingled(benchmark, id_col, text_col, n)
    sizes = sh.select("_id", F.size("_sh").alias("_sz"))
    ex = sh.select("_id", F.explode("_sh").alias("_s"))
    bex = bench_sh.select(F.col("_id").alias("bench_id"), F.explode("_sh").alias("_s"))
    inter = (
        ex.join(F.broadcast(bex), "_s")
        .groupBy("_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(sizes, "_id")
        .where(F.col("n_shared") / F.col("_sz") >= threshold)
        .select(
            F.col("_id").alias(id_col),
            "bench_id",
            "n_shared",
            # floor(x*1e6+0.5)/1e6, not round(x, 6): integer-quotient
            # rounding must be bit-identical cross-engine (see CLAUDE.md)
            (
                F.floor(F.col("n_shared") * 1_000_000.0 / F.col("_sz") + 0.5)
                / 1_000_000.0
            ).alias("containment"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n: int = 3,
    max_postings: int = 200,
) -> DataFrame:
    """Within-corpus shingle-CONTAINMENT pairs — the quote-inclusion /
    near-superset duplication Jaccard misses: a short document fully
    quoted inside a long one has Jaccard ≈ |A|/|B| (tiny) but
    containment |A∩B| / |A| = 1. The standard report for boilerplate
    inclusion inside a corpus (the corpus→benchmark directional form is
    :func:`contamination_pairs`; RefinedWeb-style pipelines run both).

    Same bucket pair-expansion as the winnow dup-pair stage: distinct
    (shingle → sorted doc posting list), lists longer than
    ``max_postings`` dropped as boilerplate on BOTH engines (the
    inverted-index skew cap that bounds the m² expansion at 100 TB),
    each bucket expands its C(m,2) pairs inline, shared counts
    aggregate per pair — never an all-pairs product. Containments are
    exact integer quotients rounded via ``floor(x*1e6+0.5)``.

    Output: id_a, id_b (id_a < id_b), n_shared, cont_a (= shared/|A|),
    cont_b (= shared/|B|), keeping pairs whose LARGER directional
    containment clears ``threshold``.
    """
    sh = _shingled(df, id_col, text_col, n)
    sizes = sh.select("_id", F.size("_sh").alias("_sz"))
    # Count-first, list-second (r8 verdict #4): a mega-hot boilerplate
    # shingle appearing in 10^8 docs must never materialize its full
    # posting list on one reducer before the cap filter sees it.
    # count(*) keeps O(1) state per key; only keys with 2..max_postings
    # docs survive to the collect_list. One explicit shingle-keyed
    # exchange feeds BOTH branches (count + list) so Catalyst reuses the
    # exchange and the shingling scan runs once; the surviving-key join
    # is fp-co-partitioned (zero extra shuffle), and AQE skew-split
    # handles the hot key's oversized-but-streaming merge partition.
    ex = sh.select("_id", F.explode("_sh").alias("_s")).repartition("_s")
    # count(_id), not count(*): keeps _id referenced so column pruning
    # can't specialize this branch's subplan — both branches share one
    # identical shingle-keyed Exchange and ReusedExchange runs the
    # shingling scan once (_id is never null; counts identical).
    keep = (
        ex.groupBy("_s")
        .agg(F.count("_id").alias("_cnt"))
        .where((F.col("_cnt") >= 2) & (F.col("_cnt") <= max_postings))
        .select("_s")
    )
    # merge hint: the surviving-key set scales with the corpus — AQE's
    # small-SF estimate would broadcast it and invert the 100 TB plan
    # (same rationale as substring_dup_spans' pinned sort-merge).
    buckets = ex.join(keep.hint("merge"), "_s").groupBy("_s").agg(
        F.sort_array(F.collect_list("_id")).alias("ds")
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"))

    def rnd(c: Column) -> Column:
        return F.floor(c * 1_000_000.0 + 0.5) / 1_000_000.0

    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("cont_a", rnd(F.col("n_shared") / F.col("_sza")))
        .withColumn("cont_b", rnd(F.col("n_shared") / F.col("_szb")))
        .where(F.greatest("cont_a", "cont_b") >= threshold)
        .select("id_a", "id_b", "n_shared", "cont_a", "cont_b")
    )


def incremental_dedup(
    incoming: DataFrame, existing_keys: DataFrame, key_col: str, order_col: str
) -> DataFrame:
    """Incremental-ingest dedup: drop incoming rows whose ``key_col``
    already exists in the corpus (anti join against the existing key
    set), then keep one deterministic representative per key within the
    batch. The steady-state shape of a continuously-fed training
    pipeline — the corpus never rescans; only (batch × key-index) work.
    """
    fresh = incoming.join(existing_keys.select(key_col), key_col, "left_anti")
    return dedup_keep_first(fresh, [key_col], [F.col(order_col).asc()])


def minhash_signature_agg(shingled: DataFrame, num_perms: int) -> DataFrame:
    """MinHash signatures as a NARROW operation — zero shuffle.

    Input: (_id, _sh array). Output: (_id, _sig array<long>[num_perms]).

    Each shingle STRING is hashed exactly once (xxhash64 → long); the
    per-permutation hash is then a re-hash of that long with the perm
    index as seed — 8-byte input instead of re-hashing the full shingle
    text num_perms times. Both stages live inside one projection over a
    let-bound array, so at 100 TB the signature stage adds no exchange —
    the only shuffles in the LSH pipeline are the band-bucket join and
    the verify join. (Without ``let`` the shingle array would be re-built
    once per permutation — the expression-tree duplication trap; and the
    previous explode + 128-column groupBy formulation paid a full shuffle
    plus an interpreted 128-buffer hash aggregate.)
    """
    from stream_processing_platform_spark.functions.text import let

    def perm(seed: int):
        return lambda h: F.xxhash64(h, F.lit(seed))

    def body(hashes: Column) -> Column:
        return F.array(
            *[F.array_min(F.transform(hashes, perm(p))) for p in range(num_perms)]
        )

    base = F.transform(F.col("_sh"), lambda s: F.xxhash64(s))
    return shingled.select("_id", let(base, body).alias("_sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n: int = 3,
    num_perms: int = 128,
    bands: int = 32,
) -> DataFrame:
    """MinHash + LSH banding near-dup detection, exact-Jaccard verified.

    Pipeline: shingle → 128-perm signature → 32 bands × 4 rows → band-hash
    bucket join (candidates = pairs sharing ≥1 bucket) → exact Jaccard
    filter. With r=4, b=32: P(miss | jac=0.8) = (1-0.8^4)^32 ≈ 4e-8, and
    precision is exact because candidates are verified.

    Scale: the only shuffles are the signature groupBy (num_perms longs
    per doc), the bucket self-join, and the verify join — never an
    all-pairs product.
    """
    rows = num_perms // bands
    sh = _shingled(df, id_col, text_col, n)
    sig = minhash_signature_agg(sh, num_perms)
    banded = sig.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.concat_ws(",", F.slice(F.col("_sig"), b * rows + 1, rows)))
                    .alias("bucket"),
                ),
            )
        ).alias("_bb"),
    ).select("_id", "_bb.band", "_bb.bucket")
    l = banded.select(F.col("_id").alias("id_a"), "band", "bucket")
    r = banded.select(F.col("_id").alias("id_b"), "band", "bucket")
    cands = (
        l.join(r, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_pairs(cands, sh, threshold)


# SimHash sign source: a 60-bit md5-derived token hash folded mod a
# 31-bit prime, then one affine mixer (a_i·h + b_i) mod p per bit. Every
# op is exact int64 arithmetic available identically in Spark and duckdb
# (the generated-oracle doctrine — same family as the winnow polynomial
# hash), which is what lets q_simhash_pairs carry a full hash-MATCH
# oracle instead of a rows-only check. a_i·h < 2^31·2^31 = 2^62 never
# overflows ANSI int64.
SIMHASH_P = 2_147_483_647  # 2^31 - 1, prime


def simhash_mixers(num_bits: int = 64, seed: int = 0x51A5) -> list[tuple[int, int]]:
    """Per-bit affine mixer constants (a_i, b_i), a_i ∈ [1, p), b_i ∈
    [0, p) — sampled once from a seeded RNG so the Spark expression and
    the generated SQL oracle embed the SAME literals."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, SIMHASH_P), rnd.randrange(SIMHASH_P))
        for _ in range(num_bits)
    ]


def _simhash_bits_arrow(
    df: DataFrame, id_col: str, text_col: str, num_bits: int
) -> DataFrame:
    """SimHash fingerprints: bit i is 1 when the sum over tokens of ±1
    is positive, where token t votes ``+1`` iff
    ``((a_i·h(t) + b_i) mod p)·2 < p`` with ``h(t)`` the first 15 md5
    hex digits of t as an integer, mod p — exactly reproducible in ANSI
    SQL (duckdb ``('0x' || substr(md5(t),1,15))::BIGINT``), so the
    operator carries a full cross-engine oracle.

    Per batch, tokenize + md5 in one Python pass and run all (token ×
    bit) mixers as one numpy matrix op. Every op is int64 arithmetic
    (a·h < 2^62, no overflow, no summation-order channel), so the
    output is EXACTLY equal to the expression form in
    ``tests/twin_refs.py`` (pytest-pinned) — which cost 3.9 s at sf0.1
    as a per-(token, bit) interpreted HOF (the md5-vs-HOF lesson from
    the winnow family, CLAUDE.md). Tokenization
    mirrors functions.text.tokens: Java regex \\s is the ASCII class
    [ \\t\\n\\x0b\\f\\r], NOT Python's unicode \\s — split on exactly
    that class. Output: (_id, _hi, _lo) — the fingerprint packed into
    two 32-bit halves (acc*2+bit fold order), the same packing the
    duckdb oracle uses: the banded join then shuffles two longs per
    row instead of a 64-int array, and hamming is JVM
    bit_count(xor) instead of an interpreted zip_with fold."""
    import hashlib
    import re as _re

    import numpy as np

    mixers = simhash_mixers(num_bits)
    A = np.array([a for a, _ in mixers], dtype=np.int64)[:, None]
    B = np.array([b for _, b in mixers], dtype=np.int64)[:, None]
    P = SIMHASH_P
    half = num_bits // 2
    pow_hi = (1 << np.arange(half - 1, -1, -1)).astype(np.int64)
    ws = _re.compile(r"[ \t\n\x0b\f\r]+")
    id_type = dict(df.dtypes)[id_col]
    schema = f"_id {id_type}, _hi long, _lo long"

    def run(batches):
        memo: dict[str, int] = {}  # token -> md5-derived hash: corpora
        # repeat tokens heavily, so the vocabulary is far smaller than
        # the token stream — hash each distinct token once per task

        def th(t: str) -> int:
            h = memo.get(t)
            if h is None:
                h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) % P
                memo[t] = h
            return h

        for pdf in batches:
            if len(pdf) == 0:
                continue
            his, los = [], []
            for s in pdf[text_col]:
                toks = [t for t in ws.split((s or "").lower()) if t]
                if not toks:
                    his.append(0)
                    los.append(0)
                    continue
                hs = np.fromiter((th(t) for t in toks), dtype=np.int64, count=len(toks))
                g = (A * hs[None, :] + B) % P
                bits = (np.where(g * 2 < P, 1, -1).sum(axis=1) > 0).astype(np.int64)
                his.append(int(bits[:half] @ pow_hi))
                los.append(int(bits[half:] @ pow_hi))
            yield pd.DataFrame(
                {"_id": pdf[id_col].to_numpy(), "_hi": his, "_lo": los}
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(run, schema)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    num_bits: int = 64,
) -> DataFrame:
    """SimHash near-dup: 64-bit fingerprints (:func:`_simhash_bits_arrow`),
    banded into ``bands`` chunks (pigeonhole: hamming ≤ bands-1
    guarantees a shared chunk; for max_hamming ≥ bands it is
    approximate), verified with exact hamming distance. Candidates only
    meet inside a (band, chunk) bucket — no all-pairs shuffle. Output:
    id_a, id_b, hamming."""
    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    width = num_bits // bands
    half = num_bits // 2
    if num_bits != 2 * half or width < 1 or half % width:
        raise ValueError(
            f"bands={bands} must split each {half}-bit fingerprint half into "
            f"whole chunks (num_bits={num_bits})"
        )
    fp = _simhash_bits_arrow(df, id_col, text_col, num_bits)
    # Band chunks shift+mask straight out of the packed halves — no
    # per-bit work survives past the signature stage.
    mask = (1 << width) - 1
    per_half = half // width

    def chunk(b: int):
        src = F.col("_hi") if b < per_half else F.col("_lo")
        shift = half - width * ((b % per_half) + 1)
        return F.shiftright(src, shift).bitwiseAND(F.lit(mask))

    banded = fp.select(
        "_id",
        "_hi",
        "_lo",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), chunk(b).alias("chunk"))
                    for b in range(bands)
                ]
            )
        ).alias("_bb"),
    ).select("_id", "_hi", "_lo", "_bb.band", "_bb.chunk")
    l = banded.select(
        F.col("_id").alias("id_a"), F.col("_hi").alias("_ha"),
        F.col("_lo").alias("_la"), "band", "chunk",
    )
    r = banded.select(
        F.col("_id").alias("id_b"), F.col("_hi").alias("_hb"),
        F.col("_lo").alias("_lb"), "band", "chunk",
    )
    hamming = (
        F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
        + F.bit_count(F.col("_la").bitwiseXOR(F.col("_lb")))
    ).cast("int")
    return (
        l.join(r, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 25,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-duplication spans (the character-level dedup of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499 — there via a suffix array; here via
    position-indexed gram hashes, the shape that distributes): for each
    document, the maximal character ranges of the NORMALIZED text
    covered by ``min_len``-char grams whose hash occurs in at least
    ``min_docs`` DISTINCT documents. High span coverage = the document
    is largely boilerplate / memorization risk even when no whole-doc
    near-dup pair fires; the spans themselves are what a training
    pipeline cuts out.

    Scale shape: one Arrow gram-hash scan (no shuffle), one
    hash-keyed distinct + frequency aggregate, one hash-keyed join
    back, then a per-document sort for the interval merge — every
    shuffle is key-partitioned and linear in gram count, never a
    pairwise product. Same polynomial gram hash as the winnowing
    family, so duckdb reproduces it bit-for-bit and the operator
    carries a full oracle. Within-doc repeats alone do NOT flag a gram
    (distinct-doc counting) — cross-document duplication only.

    Output: id_col, span_start, span_end (1-based, inclusive, clipped
    to the normalized length), span_len.
    """
    from stream_processing_platform_spark.functions.text import (
        gram_hashes,
        normalize_text,
    )
    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    base = ensure_min_parallelism(df).select(
        F.col(id_col),
        F.length(normalize_text(F.col(text_col))).alias("_len"),
        gram_hashes(F.col(text_col), min_len).alias("_hs"),
    )
    # posexplode_outer, NOT posexplode: gram_hashes never yields an
    # empty or null array (a doc shorter than min_len still emits one
    # clipped gram), so the two are row-identical here — but plain
    # posexplode makes Catalyst infer a `size(_hs) > 0` filter and push
    # it below the parallelism exchange, where the filter's reference
    # to the UDF column re-evaluates the whole Arrow gram scan a second
    # time per consumer (the guide-§4.4 duplication shape).
    g = base.select(
        id_col, "_len", F.posexplode_outer("_hs").alias("_p0", "_h")
    ).select(id_col, "_len", (F.col("_p0") + 1).cast("long").alias("pos"), "_h")
    # ONE hash-keyed exchange of the gram table, shared by both
    # consumers (the frequency aggregate and the covered-grams join).
    # The subtrees below the exchange must stay canonically identical
    # for exchange reuse to materialize the Arrow gram scan + shuffle
    # once: the explicit isnotnull pre-empts the join's inferred null
    # filter (which would otherwise push below only the join's copy),
    # and the aggregate below keeps every column live on its side so
    # column pruning can't narrow its copy of the exchange.
    g = g.where(F.col("_h").isNotNull()).repartition("_h")
    # Distinct docs per hash as a two-level aggregate riding the SAME
    # partitioning (no extra exchange): (_h, id) collapses within-doc
    # repeats, then a count per _h. The min(pos)/min(_len) aggregates
    # exist only to reference pos/_len (see above) — two BIGINT mins
    # over co-located rows, discarded; they buy the reuse of the whole
    # gram-scan stage (measured: 2 Arrow scans + 2 exchanges → 1 + 1).
    dup_hashes = (
        g.groupBy("_h", id_col)
        .agg(F.min("pos").alias("_p1"), F.min("_len").alias("_l1"))
        .groupBy("_h")
        .agg(F.count("*").alias("_nd"), F.min(F.least("_p1", "_l1")).alias("_pm"))
        # `_pm < 0` is never true (positions are 1-based, lengths >= 0):
        # the disjunct exists so the optimizer cannot prune _p1/_l1 (and
        # with them pos/_len) out of this side's copy of the exchange —
        # pruning would break the canonical identity that lets AQE reuse
        # the materialized gram-scan shuffle across both consumers.
        .where((F.col("_nd") >= min_docs) | (F.col("_pm") < 0))
        .select("_h")
    )
    # NEVER broadcast this join: the duplicated-hash set scales with the
    # corpus (10-50% of all grams on boilerplate-heavy corpora), so AQE's
    # small-SF size estimate inverts the 100 TB plan (and OOMed the
    # local bench building a multi-million-row hashed relation). Both
    # sides are large → sort-merge on the hash key.
    covered = g.join(dup_hashes.hint("merge"), "_h").select(id_col, "_len", "pos")
    # Interval merge (gaps-and-islands): grams at p1 < p2 cover a
    # contiguous region iff p2 <= p1 + min_len; both windows ride ONE
    # per-document sort (same partition key + order).
    w_lag = Window.partitionBy(id_col).orderBy("pos")
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    brk = F.when(F.col("pos") - F.lag("pos").over(w_lag) > min_len, 1).otherwise(0)
    spans = (
        covered.withColumn("_brk", brk)
        .withColumn("_isl", F.sum("_brk").over(w_run))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            F.least(F.max("pos") + (min_len - 1), F.first("_len")).alias("span_end"),
        )
    )
    return spans.select(
        id_col,
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
    )


def _lsh_planes(df: DataFrame, vec_col: str, num_bits: int, seed: int):
    """Seeded Rademacher (±1) hyperplanes, shape (num_bits, dims).

    One 1-row job learns the dimensionality (embedding columns are
    fixed-width; any NON-EMPTY row serves — a leading null/empty vector
    must not shrink the matrix to 1 dim, or every signature collapses
    and LSH degrades to near-all-pairs candidates). All-empty input
    degrades to a trivial 1-dim matrix — the pipeline then yields zero
    pairs instead of crashing at plan build."""
    import numpy as np

    from stream_processing_platform_spark.functions.similarity import as_double_array

    head = (
        df.select(F.size(as_double_array(F.col(vec_col))).alias("n"))
        .where(F.col("n") > 0)
        .head()
    )
    dims = head["n"] if head is not None else 1
    rng = np.random.default_rng(seed)
    return np.where(rng.standard_normal((num_bits, dims)) > 0, 1.0, -1.0)


def hyperplane_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_bits: int = 192,
    bands: int = 12,
    seed: int = 0x5EED,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via random-hyperplane (sign) LSH —
    the 100 TB scale path (SRP-LSH, Charikar 2002: P(bits agree) =
    1 - angle/pi per hyperplane).

    Pipeline mirrors :func:`simhash_pairs`: sign-bit fingerprint → bands
    of ``num_bits/bands`` bits folded to an int chunk → candidates meet
    only inside a (band, chunk) bucket → exact-cosine verify ≥ threshold.
    Never an all-pairs product; precision is exact (verified), banding
    affects recall only. With defaults (r=16, b=12) the per-pair miss
    probability at cos=0.95 is ~4e-8 and uncorrelated pairs collide in a
    band with p≈1.5e-5, so candidate volume stays near-linear.

    The hyperplanes are Rademacher (±1) vectors sampled once on the
    driver from a seeded RNG (:func:`_lsh_planes`) and captured in the
    signature stage's numpy closure: one batch matmul + bit fold per
    Arrow batch instead of rows x num_bits interpreted HOF folds (the
    dominant cost of this operator at sf0.1). The signature stage is
    narrow: zero shuffle, zero join. numpy's pairwise summation vs the
    expression fold's sequential order can flip a sign only when
    |projection| ~ 1e-13, and banding redundancy plus the exact-cosine
    verify bound that to recall of knife-edge pairs; the expression
    twin (``tests/twin_refs.py``) is pinned equal by pytest. Rows whose
    vector length differs from the learned dims (NULL included) read an
    all-zero signature — the expression form's zip_with null-pad
    semantics — and simply bucket harmlessly.

    Scope note: sign-LSH needs an angular margin. Near-duplicate means
    cos ≥ ~0.9, where discrimination is strong. For low thresholds
    (≤ ~0.6 — closer to background similarity than to duplication) no
    LSH family separates matches from noise and an exact threshold join
    is inherently quadratic — that exact baseline lives in
    :func:`embedding_near_dup_pairs`.

    Output: id_a, id_b, cos (rounded 6dp, id_a < id_b).
    """
    import numpy as np

    from stream_processing_platform_spark.functions.similarity import as_double_array
    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    width = num_bits // bands
    base = ensure_min_parallelism(df).select(
        F.col(id_col).alias("_id"), as_double_array(F.col(vec_col)).alias("_v")
    )
    P = _lsh_planes(df, vec_col, num_bits, seed)  # (num_bits, dims) float64 +-1
    pw = (1 << np.arange(width - 1, -1, -1)).astype(np.int64)
    id_type = dict(base.dtypes)["_id"]
    sig_schema = f"_id {id_type}, band int, chunk long"

    def sigrun(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            arrs = pdf["_v"].to_numpy()
            # NULL vectors get length -1, which never equals dims, so
            # they fall into the all-zero row
            lens = np.fromiter(
                (len(a) if a is not None else -1 for a in arrs),
                dtype=np.int64,
                count=n,
            )
            chunks = np.zeros((n, bands), dtype=np.int64)
            mask = lens == P.shape[1]
            if mask.any():
                X = np.stack(arrs[mask]).astype(np.float64, copy=False)
                bits = (X @ P.T > 0).astype(np.int64)  # (m, num_bits)
                chunks[mask] = bits.reshape(len(X), bands, width) @ pw
            yield pd.DataFrame(
                {
                    "_id": np.repeat(pdf["_id"].to_numpy(), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), n),
                    "chunk": chunks.reshape(-1),
                }
            )

    banded = base.select("_id", "_v").mapInPandas(sigrun, sig_schema)
    return _lsh_verify(banded, base, threshold)


def _lsh_verify(banded: DataFrame, base: DataFrame, threshold: float) -> DataFrame:
    """Shared LSH tail: (band, chunk)-bucket candidate pairs + exact
    cosine verify (precision exact by construction)."""
    from stream_processing_platform_spark.functions.similarity import cosine

    lhs = banded.select(F.col("_id").alias("id_a"), "band", "chunk")
    rhs = banded.select(F.col("_id").alias("id_b"), "band", "chunk")
    cands = (
        lhs.join(rhs, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float, block_mod: int | None = None
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ threshold), exact.

    Brute-force all-pairs is the correctness baseline — the recall oracle
    for the LSH path, exercised by ``tests/test_ann_quality.py::
    test_hyperplane_lsh_recall_vs_brute_force`` (threshold sweep
    0.8/0.9/0.95); the registered scale path is
    :func:`hyperplane_lsh_pairs`. Pass ``block_mod`` to bound candidates
    when an approximate blocked variant is acceptable.
    Output: id_a, id_b, cos (rounded 6dp)."""
    from stream_processing_platform_spark.functions.similarity import as_double_array, cosine
    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    base = ensure_min_parallelism(df).select(
        F.col(id_col).alias("_id"), as_double_array(F.col(vec_col)).alias("_v")
    )
    a = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _sem_members(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_id: str,
    centroid_vec: str,
) -> DataFrame:
    """Cluster-assigned members for semantic dedup: (id, cluster, _v,
    _nrm). Assignment runs over l2-NORMALIZED vectors (direction space,
    so a scaled twin lands with its original); the returned vector and
    norm are the ORIGINAL ones the pairwise cosine uses.

    ONE mapInPandas pass computes the norm, the l2-normalization, and
    the rounded-argmin cluster per Arrow batch as matmuls — instead of
    |rows| x |centroids| interpreted HOF dot products (measured ~5x on
    semantic dedup at sf0.1). A mapInPandas node (an operator, not an
    expression) also cannot be inlined into the downstream cluster
    join condition — a plain pandas_udf projection gets collapsed into
    the join by Catalyst and dies in codegen.

    Replicates the expression form (``clustering.assign_expr`` over
    ``clustering._normed`` vectors, kept in ``tests/twin_refs.py``)
    where it matters: the same ``n2 - 2·dot + cn2`` composition, the
    same ``floor(d*1e6+0.5)/1e6`` rounding BEFORE the argmin, the same
    lowest-cid tie-break (centroids sorted by cid; np.argmin takes the
    first minimum). The admitted delta: numpy's pairwise summation vs
    the fold's sequential order diverges ~1e-15 — nine orders of
    magnitude under the 1e-6 rounding step, the same acceptance class
    as the repo's ln doctrine (CLAUDE.md); the expression twin is
    pinned row-for-row equal by pytest."""
    import numpy as np

    from stream_processing_platform_spark.functions.similarity import as_double_array
    from stream_processing_platform_spark.operators.ann import _stack_checked
    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    rows = sorted(
        centroids.select(centroid_id, centroid_vec).collect(),  # bounded: k x dim
        key=lambda r: r[centroid_id],
    )
    # id/cluster types derived from the inputs (string/int ids both
    # work); np.asarray keeps string cids as an object array, which
    # fancy-indexes fine
    cids = np.asarray([r[centroid_id] for r in rows])
    C = np.ascontiguousarray([r[centroid_vec] for r in rows], dtype=np.float64)
    c_sq = (C * C).sum(axis=1)
    # CPU-bound member prep — spread the single-row-group testdata scan
    # across cores (no-op at real scale)
    base = ensure_min_parallelism(df).select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("_v")
    )
    id_type = dict(base.dtypes)[id_col]
    cluster_type = dict(centroids.dtypes)[centroid_id]
    schema = f"{id_col} {id_type}, cluster {cluster_type}, _v array<double>, _nrm double"

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = _stack_checked(pdf, id_col, "_v", C.shape[1])
            nrm = np.sqrt((X * X).sum(axis=1))
            NV = X / nrm[:, None]
            d = (NV * NV).sum(axis=1, keepdims=True) - 2.0 * (NV @ C.T) + c_sq[None, :]
            dr = np.floor(d * 1e6 + 0.5) / 1e6
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cluster": cids[dr.argmin(axis=1)],
                    "_v": list(X),
                    "_nrm": nrm,
                }
            )

    return base.select(F.col(id_col), F.col("_v")).mapInPandas(run, schema)


def _cos_r(va, na, vb, nb):
    """floor(cos*1e6+0.5)/1e6 — the IEEE rounding form both engines
    reproduce bit-for-bit (CLAUDE.md)."""
    from stream_processing_platform_spark.functions.similarity import dot

    return F.floor(dot(va, vb) / (na * nb) * 1e6 + F.lit(0.5)) / 1e6


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cid",
    centroid_vec: str = "cvec",
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then dropping any vector
    with a lower-id cosine-neighbor above ``threshold`` INSIDE its own
    cluster. Clustering bounds the pair comparison to within-cluster
    (the paper's whole scaling argument: k grows with the corpus so
    cluster sizes stay bounded — never an all-pairs product); pairs
    that straddle a cluster boundary are missed by design, the
    accepted approximation of the method.

    Determinism/oracle shape: vectors are l2-normalized FIRST (so the
    cluster assignment follows direction, like the paper's
    cosine-space clustering — a scaled twin lands with its original),
    assignment is the rounded argmin of :func:`_sem_members` (the
    vectorized form of ``operators/clustering.py::assign_expr``), and
    the in-cluster cosine is computed over the ORIGINAL vectors with
    per-row precomputed norms, rounded via the ``floor(x*1e6+0.5)/1e6``
    IEEE form before the threshold compare. Keep policy is lowest-id-wins per pair — deterministic
    and SQL-expressible (the paper keeps the point farthest from the
    centroid; the policy choice doesn't change the pair structure).

    Output: ``id_col``, ``cluster`` (centroid id), ``kept`` boolean —
    one row per input vector, no nullable columns.
    """
    members = _sem_members(df, centroids, id_col, vec_col, centroid_id, centroid_vec)
    return _drop_cluster_dups(members, id_col, threshold)


def _drop_cluster_dups(members: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """SemDeDup keep stage over assigned members (id, cluster, _v,
    _nrm): drop any member with a lower-id same-cluster neighbor at
    rounded cosine >= ``threshold``. Output: id_col, cluster, kept."""
    a = members.select(
        F.col(id_col).alias("_ida"), F.col("cluster").alias("_cl"),
        F.col("_v").alias("_va"), F.col("_nrm").alias("_na"),
    )
    b = members.select(
        F.col(id_col).alias("_idb"), F.col("cluster").alias("_cl"),
        F.col("_v").alias("_vb"), F.col("_nrm").alias("_nb"),
    )
    cos_r = _cos_r(F.col("_va"), F.col("_na"), F.col("_vb"), F.col("_nb"))
    dropped = (
        a.join(b, on=[a["_cl"] == b["_cl"], a["_ida"] < b["_idb"]])
        .where(cos_r >= F.lit(threshold))
        .select(F.col("_idb").alias("_drop"))
        .distinct()
    )
    return members.join(
        dropped, members[id_col] == dropped["_drop"], "left"
    ).select(
        F.col(id_col), F.col("cluster"), F.col("_drop").isNull().alias("kept")
    )


def incremental_semantic_dedup(
    incoming: DataFrame,
    existing_kept: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "cid",
    centroid_vec: str = "cvec",
    threshold: float = 0.95,
) -> DataFrame:
    """Steady-state SemDeDup ingestion: an incoming batch is checked
    against the already-deduplicated corpus AND itself, never
    rescanning corpus-vs-corpus. An incoming vector is dropped when a
    same-cluster cosine-neighbor >= ``threshold`` exists either in
    ``existing_kept`` (any id) or earlier in the batch (lower id) —
    the batch-ordering analogue of :func:`incremental_dedup` for the
    semantic measure, and the foreachBatch body of a streaming
    semantic-dedup pipeline (append the kept rows back to the corpus
    between batches).

    Both sides assign against the SAME fixed centroid set (the index's
    centroids — at steady state these come from the existing corpus,
    not the batch), so cluster membership is stable across batches.
    Work per batch: batch-side assignment + two cluster-keyed joins
    bounded by (batch x cluster) — corpus participates only through
    the clusters the batch touches. Output: ``id_col``, ``cluster``,
    ``kept`` for the INCOMING batch only.
    """
    from stream_processing_platform_spark.partitioning import checkpointer

    # four consumers of the batch-side members (both join probes, the
    # tie-ordered self-join side, the final keep join) — materialize
    # once or each re-runs the Arrow assignment pass over the batch
    inc = checkpointer(incoming)(
        _sem_members(incoming, centroids, id_col, vec_col, centroid_id, centroid_vec)
    )
    ex = _sem_members(existing_kept, centroids, id_col, vec_col, centroid_id, centroid_vec)
    b = inc.select(
        F.col(id_col).alias("_idb"), F.col("cluster").alias("_cl"),
        F.col("_v").alias("_vb"), F.col("_nrm").alias("_nb"),
    )
    a_ex = ex.select(
        F.col("cluster").alias("_cl"), F.col("_v").alias("_va"), F.col("_nrm").alias("_na")
    )
    a_inc = inc.select(
        F.col(id_col).alias("_ida"), F.col("cluster").alias("_cl"),
        F.col("_v").alias("_va"), F.col("_nrm").alias("_na"),
    )
    cos_r = _cos_r(F.col("_va"), F.col("_na"), F.col("_vb"), F.col("_nb"))
    drop_vs_corpus = (
        a_ex.join(b, "_cl").where(cos_r >= F.lit(threshold))
        .select(F.col("_idb").alias("_drop"))
    )
    drop_in_batch = (
        a_inc.join(b, on=[a_inc["_cl"] == b["_cl"], a_inc["_ida"] < b["_idb"]])
        .where(cos_r >= F.lit(threshold))
        .select(F.col("_idb").alias("_drop"))
    )
    dropped = drop_vs_corpus.unionByName(drop_in_batch).distinct()
    return inc.join(dropped, inc[id_col] == dropped["_drop"], "left").select(
        F.col(id_col), F.col("cluster"), F.col("_drop").isNull().alias("kept")
    )
