"""Text-analysis + dedup queries over the `documents` table — the
LLM-data-pipeline surface (north-star additions; SURVEY.md §7 step 6).

Every deterministic operator carries a duckdb oracle; the LSH-based ones
(MinHash, SimHash) register the exact-measure brute force as oracle where
feasible, since candidates are always verified with the exact measure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_platform_spark.functions import text as T
from stream_processing_platform_spark.operators import dedup
from stream_processing_platform_spark.operators.mixture import mixture_targets
from stream_processing_platform_spark.registry import query
from stream_processing_platform_spark.tables import load_table

# Shared SQL fragment: duckdb twin of functions/text.py::tokens
_SQL_TOKENS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"


@query(
    "q_text_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct({_SQL_TOKENS})) AS INTEGER) AS n_distinct,
           CAST(length(text) AS INTEGER) AS n_chars_actual
    FROM documents
    """,
    description="Token counting (whitespace tokenizer): total, distinct, "
    "chars — per-document token stats for pipeline budgeting.",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).cast("int").alias("n_tokens"),
        T.distinct_token_count(F.col("text")).cast("int").alias("n_distinct"),
        F.length("text").cast("int").alias("n_chars_actual"),
    )


_SQL_SW = "['the','a','and','of','to','in','is','it','on','for']"


@query(
    "q_text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS diversity,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, x -> list_contains({_SQL_SW}, x))) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS sw_ratio
      FROM t
    )
    SELECT doc_id,
           floor((0.4 * least(n / 200.0, 1.0)
                + 0.3 * diversity
                + 0.3 * least(sw_ratio / 0.1, 1.0)) * 1000000.0 + 0.5) / 1000000.0
               AS quality
    FROM m
    """,
    description="Quality scoring: length + lexical diversity + stopword "
    "ratio composite (columnar stand-in for model-based quality filters).",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.quality_score(F.col("text")).alias("quality"))


def _sql_marker(markers: tuple[str, ...]) -> str:
    parts = [f"(len(string_split(' ' || lower(text) || ' ', ' {m} ')) - 1)" for m in markers]
    return " + ".join(parts)


@query(
    "q_lang_id",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang AS lang_label,
             {_sql_marker(T.LANG_MARKERS['en'])} AS s_en,
             {_sql_marker(T.LANG_MARKERS['de'])} AS s_de,
             {_sql_marker(T.LANG_MARKERS['fr'])} AS s_fr,
             {_sql_marker(T.LANG_MARKERS['es'])} AS s_es
      FROM documents
    )
    SELECT doc_id, lang_label,
           CASE
             WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'und'
             WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
             WHEN s_de > s_en AND s_de >= s_fr AND s_de >= s_es THEN 'de'
             WHEN s_fr > s_en AND s_fr > s_de AND s_fr >= s_es THEN 'fr'
             ELSE 'es'
           END AS lang_guess
    FROM s
    """,
    description="Language-ID heuristic: marker-stopword argmax with "
    "deterministic tie-break order en>de>fr>es.",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        T.lang_id(F.col("text")).alias("lang_guess"),
    )


@query(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           CAST(length(text) AS INTEGER) AS n_chars_actual
    FROM documents
    """,
    description="Document fingerprinting: md5 over whitespace-normalized "
    "lowercased text (content identity for exact dedup).",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.fingerprint(F.col("text")).alias("fp"),
        F.length("text").cast("int").alias("n_chars_actual"),
    )


@query(
    "q_dedup_exact_docs",
    oracle="""
    SELECT fp, CAST(count(*) AS BIGINT) AS n_docs, CAST(min(doc_id) AS BIGINT) AS keeper
    FROM (SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
          FROM documents)
    GROUP BY fp
    """,
    description="Exact document dedup: fingerprint clusters with a "
    "deterministic keeper (hash-groupBy dedup; clusters of size 1 stay).",
)
def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


# Shared SQL fragment: 3-token shingles of the document (duckdb twin of
# functions/text.py::word_shingles).
_SQL_SHINGLES = f"""
    SELECT doc_id,
           CASE WHEN len(w) >= 3
                THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w) - 1)])
                ELSE [array_to_string(w, ' ')] END AS sh
    FROM (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents)
"""

# Inverted-index formulation (pairs sharing >=1 shingle; shared count =
# |A∩B| because shingle lists are distinct) — result-identical to the
# naive all-pairs list_intersect join but ~40x faster in duckdb, which
# keeps the driver's per-round budget clear for the queries after these.
_SQL_JACCARD_PAIRS = f"""
    WITH sh AS ({_SQL_SHINGLES}),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           floor((CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter))
                 * 1000000.0 + 0.5) / 1000000.0 AS jac
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
"""


@query(
    "q_ngram_jaccard_pairs",
    oracle=f"""
    SELECT id_a, id_b, jac FROM ({_SQL_JACCARD_PAIRS}) WHERE jac >= 0.5
    """,
    description="N-gram (3-token shingle) Jaccard near-dup pairs, exact "
    "all-pairs baseline at threshold 0.5 (the scale path is "
    "q_minhash_lsh_pairs, which bounds candidates by LSH buckets).",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", threshold=0.5, n=3)


@query(
    "q_minhash_lsh_pairs",
    oracle=f"""
    SELECT id_a, id_b, jac FROM ({_SQL_JACCARD_PAIRS}) WHERE jac >= 0.8
    """,
    description="MinHash(64)+LSH(16×4) near-dup detection verified by "
    "exact Jaccard ≥ 0.8. Oracle is the exact brute force: with r=4,b=16 "
    "the miss probability at jac=0.8 is ~2e-4 and precision is exact, so "
    "LSH output = brute-force output. (The API default stays 128 perms / "
    "32 bands, miss ~4e-8; the registered query uses 64 to halve the "
    "codegen+eval cost of the signature stage.) Scale path: shuffles "
    "bounded by LSH buckets, never all-pairs.",
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.8, n=3, num_perms=64, bands=16
    )


# Containment cap shared with the oracle (inverted-index skew cap).
_CONT_CAP, _CONT_T = 200, 0.8


@query(
    "q_containment_pairs",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    buckets AS (
      SELECT s, list_sort(list(doc_id)) AS ds FROM ex GROUP BY s
      HAVING count(*) BETWEEN 2 AND {_CONT_CAP}
    ),
    pairs AS (
      SELECT unnest(flatten(list_transform(ds,
               (x, i) -> list_transform(ds[i+1:], y -> {{'id_a': x, 'id_b': y}})))) AS p
      FROM buckets
    ),
    inter AS (
      SELECT p.id_a AS id_a, p.id_b AS id_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM pairs GROUP BY 1, 2
    ),
    scored AS (
      SELECT id_a, id_b, n_shared,
             floor((CAST(n_shared AS DOUBLE) / sa.sz) * 1000000.0 + 0.5)
               / 1000000.0 AS cont_a,
             floor((CAST(n_shared AS DOUBLE) / sb.sz) * 1000000.0 + 0.5)
               / 1000000.0 AS cont_b
      FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
    )
    SELECT * FROM scored WHERE greatest(cont_a, cont_b) >= {_CONT_T}
    """,
    description=f"Within-corpus shingle-containment pairs at "
    f"max-direction >= {_CONT_T} (operators/dedup.containment_pairs): "
    f"the quote-inclusion / near-superset duplication Jaccard misses — "
    f"a short doc fully quoted in a long one scores containment 1.0 at "
    f"tiny Jaccard. Bucket pair-expansion over (shingle -> posting "
    f"list) with the {_CONT_CAP}-doc boilerplate cap on both engines; "
    f"exact integer quotients, floor(x*1e6+0.5) rounding.",
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        d, "doc_id", "text", threshold=_CONT_T, n=3, max_postings=_CONT_CAP
    )


@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sym AS (
        SELECT id_a AS s, id_b AS d FROM ({_SQL_JACCARD_PAIRS}) WHERE jac >= 0.8
        UNION
        SELECT id_b AS s, id_a AS d FROM ({_SQL_JACCARD_PAIRS}) WHERE jac >= 0.8
    ),
    reach(v, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.v
    ),
    cc AS (
        SELECT v AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        FROM reach GROUP BY v
    )
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM cc
    """,
    description="Dedup CLUSTERING: near-dup pairs (MinHash-LSH, exact-"
    "Jaccard-verified at 0.8) → connected components via iterative "
    "min-label propagation (operators/graph.py) → one keeper (min doc_id) "
    "per duplicate group, singletons kept. The duckdb oracle computes the "
    "same components with a recursive CTE, so the distributed iteration "
    "is hash-checked end to end.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.graph import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", threshold=0.8, n=3, num_perms=64, bands=16
    )
    return dedup_clusters(d.select("doc_id"), pairs)


# SimHash oracle: generated from the SAME mixer constants the Spark
# signature embeds (dedup.simhash_mixers — the winnow/bm25/zorder
# generated-twin doctrine). The oracle is brute-force pairs over packed
# 32-bit signature halves with bit_count(xor()) hamming; the Spark side
# is the banded bucket join, which is EXACT (not approximate) here by
# pigeonhole: max_hamming=3 ≤ bands-1, so any qualifying pair shares at
# least one untouched 16-bit band. Packing folds each half as
# acc*2 + bit (list_reduce's first element is its init — the same fold)
# — 32 bits per half so no int64 sign-bit overflow on either engine.
_SIMHASH_BITS, _SIMHASH_MAXH, _SIMHASH_BANDS = 64, 3, 4
# One VALUES row per bit — NOT a 64-element list literal indexed inside
# the per-token lambda (duckdb re-materializes a list literal per
# evaluation: measured 54 s at sf0.01; the mixer-table form is ~1 s).
_SIMHASH_MIXERS = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(dedup.simhash_mixers(_SIMHASH_BITS))
)


@query(
    "q_simhash_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      FROM documents),
    hs AS (
      SELECT doc_id,
             list_transform(toks,
               t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % {dedup.SIMHASH_P}) AS hs
      FROM tok),
    mixers AS (SELECT * FROM (VALUES {_SIMHASH_MIXERS}) AS m(i, a, b)),
    votes AS (
      SELECT doc_id, m.i,
             CASE WHEN coalesce(list_sum(list_transform(hs, h ->
                    CASE WHEN ((m.a * h + m.b) % {dedup.SIMHASH_P}) * 2
                              < {dedup.SIMHASH_P}
                         THEN 1 ELSE -1 END)), 0) > 0
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
      FROM hs CROSS JOIN mixers m),
    bits AS (SELECT doc_id, list(bit ORDER BY i) AS bits FROM votes GROUP BY doc_id),
    packed AS (
      SELECT doc_id,
             list_reduce(bits[1:32], (acc, b) -> acc * 2 + b) AS hi,
             list_reduce(bits[33:64], (acc, b) -> acc * 2 + b) AS lo
      FROM bits)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INTEGER) AS hamming
    FROM packed a JOIN packed b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= {_SIMHASH_MAXH}
    """,
    description="SimHash(64-bit) near-dup pairs: md5-derived token hash "
    "+ per-bit affine mixers (constants shared with the generated SQL "
    "twin), banded fingerprint (4×16 bits), exact hamming ≤ 3 verify. "
    "Banding is EXACT here (pigeonhole: 3 ≤ bands-1), so the "
    "brute-force bit_count(xor) oracle hash-MATCHes the bucket-join "
    "plan that never shuffles an all-pairs product.",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(
        d, "doc_id", "text", max_hamming=_SIMHASH_MAXH, bands=_SIMHASH_BANDS
    )


# --------------------------------------------------------------------------
# Quality-filter pipeline additions (round 2): repetition ratios, the
# composite keep/drop filter, corpus composition stats, token histogram.
# All pure column expressions over `documents`; every intermediate double
# is either derived from exact integer counts (identical IEEE ops both
# engines) or rounded to 6 decimals before any comparison.
# --------------------------------------------------------------------------

# duckdb twins of functions/text.py::ngram_repetition_ratio (n=2, n=3);
# floor(x*1e6+0.5)/1e6 mirrors portable_round — round() splits
# cross-engine on half-boundary integer quotients
_SQL_REP2 = (
    "CASE WHEN len(w) >= 2 THEN floor((1.0 - CAST(len(list_distinct("
    "[w[i] || ' ' || w[i+1] for i in range(1, len(w))]"
    ")) AS DOUBLE) / (len(w) - 1)) * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END"
)
_SQL_REP3 = (
    "CASE WHEN len(w) >= 3 THEN floor((1.0 - CAST(len(list_distinct("
    "[w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]"
    ")) AS DOUBLE) / (len(w) - 2)) * 1000000.0 + 0.5) / 1000000.0 ELSE 0.0 END"
)


@query(
    "q_repetition_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents)
    SELECT doc_id,
           {_SQL_REP2} AS rep_bigram,
           {_SQL_REP3} AS rep_trigram
    FROM t
    """,
    description="Gopher-style repetition detection: duplicate bigram / "
    "trigram fractions per document (1 - distinct/total n-grams) — the "
    "boilerplate / looping-generation signal pretraining filters drop on.",
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.ngram_repetition_ratio(F.col("text"), 2).alias("rep_bigram"),
        T.ngram_repetition_ratio(F.col("text"), 3).alias("rep_trigram"),
    )


# duckdb twin of functions/text.py::quality_score (portable_round form)
_SQL_QUALITY = f"""
    floor((0.4 * least(CAST(len(w) AS DOUBLE) / 200.0, 1.0)
        + 0.3 * (CASE WHEN len(w) > 0
                 THEN CAST(len(list_distinct(w)) AS DOUBLE) / len(w) ELSE 0.0 END)
        + 0.3 * least((CASE WHEN len(w) > 0
                 THEN CAST(len(list_filter(w, x -> list_contains({_SQL_SW}, x))) AS DOUBLE) / len(w)
                 ELSE 0.0 END) / 0.1, 1.0)) * 1000000.0 + 0.5) / 1000000.0
"""


@query(
    "q_quality_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(w) AS INTEGER) AS n_tokens,
             {_SQL_QUALITY} AS quality,
             {_SQL_REP2} AS rep_bigram
      FROM t
    )
    SELECT doc_id, n_tokens, quality, rep_bigram,
           CASE WHEN n_tokens < 25       THEN 'too_short'
                WHEN rep_bigram > 0.10   THEN 'repetitive'
                WHEN quality < 0.42      THEN 'low_quality'
                ELSE 'ok' END AS reason,
           CAST(CASE WHEN n_tokens >= 25 AND rep_bigram <= 0.10
                      AND quality >= 0.42 THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM m
    """,
    description="Composite C4/Gopher-style quality filter: token-count "
    "floor, duplicate-bigram ceiling, composite-quality floor — emits the "
    "keep decision AND the first failing rule per document. One narrow "
    "projection, no shuffle; every threshold compares a 6-decimal-rounded "
    "double so the decision is bit-deterministic cross-engine.",
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # one tokenizer pass for all three metrics (see functions.text.quality_metrics)
    m = d.select("doc_id", T.quality_metrics(F.col("text")).alias("_m")).select(
        "doc_id",
        F.col("_m")["n_tokens"].alias("n_tokens"),
        F.col("_m")["quality"].alias("quality"),
        F.col("_m")["rep_bigram"].alias("rep_bigram"),
    )
    reason = (
        F.when(F.col("n_tokens") < 25, "too_short")
        .when(F.col("rep_bigram") > 0.10, "repetitive")
        .when(F.col("quality") < 0.42, "low_quality")
        .otherwise("ok")
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "quality",
        "rep_bigram",
        reason.alias("reason"),
        (reason == "ok").cast("int").alias("keep"),
    )


@query(
    "q_corpus_stats",
    oracle=f"""
    WITH t AS (
      SELECT source, lang, {_SQL_TOKENS} AS w,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ), m AS (
      SELECT source, lang, CAST(len(w) AS BIGINT) AS n_tokens,
             {_SQL_QUALITY} AS quality, fp
      FROM t
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           floor(sum(round(quality * 1000000)) / (100.0 * count(*)) + 0.5) / 10000.0
               AS avg_quality,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_unique
    FROM m GROUP BY source, lang
    """,
    description="Corpus composition report (the first query a training-"
    "data pipeline runs): per (source, lang) document counts, token "
    "totals, mean quality, and distinct-fingerprint counts. Mean quality "
    "is summed as exact integer micro-units so the cross-engine average "
    "is bit-identical; one shuffle on the tiny (source, lang) key space.",
)
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        "lang",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        T.quality_score(F.col("text")).alias("quality"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    return per_doc.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        # floor(x+0.5), not round(): quotient rounding must be pure IEEE
        # ops to be bit-identical cross-engine (CLAUDE.md)
        (
            F.floor(
                F.sum(F.round(F.col("quality") * 1_000_000, 0))
                / (100.0 * F.count("*"))
                + 0.5
            )
            / 10_000.0
        ).alias("avg_quality"),
        F.countDistinct("fp").alias("n_unique"),
    )


# --------------------------------------------------------------------------
# Training-data preparation: token budgeting, chunking, packing,
# contamination, incremental ingest, stratified sampling
# --------------------------------------------------------------------------

@query(
    "q_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_SQL_TOKENS}) AS INTEGER) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{T.BPE_RE}')) AS INTEGER) AS n_bpe_tokens
    FROM documents
    """,
    description="LLM token budgeting: BPE-style pre-token count (letter "
    "runs / digit runs / single punctuation — the GPT-2 pre-tokenizer's "
    "portable core) next to the whitespace count it refines; one narrow "
    "regexp scan, no shuffle.",
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).cast("int").alias("n_ws_tokens"),
        T.bpe_token_count(F.col("text")).cast("int").alias("n_bpe_tokens"),
    )


_CHUNK, _STRIDE = 64, 48


@query(
    "q_doc_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    c AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) <= {_CHUNK} THEN 1
                      ELSE CAST(ceil((len(toks) - {_CHUNK}) / {_STRIDE}.0) AS INTEGER) + 1
                 END AS n_chunks
          FROM t)
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
           CAST(len(toks[(i*{_STRIDE}+1):(i*{_STRIDE}+{_CHUNK})]) AS INTEGER)
               AS n_chunk_tokens,
           array_to_string(toks[(i*{_STRIDE}+1):(i*{_STRIDE}+{_CHUNK})], ' ') AS chunk_text
    FROM (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i FROM c)
    """,
    description=f"Context-window chunking: split each document into "
    f"{_CHUNK}-token chunks with a {_CHUNK - _STRIDE}-token overlap "
    f"(stride {_STRIDE}) — tokenize once, explode a chunk-index "
    f"sequence, slice per index. Narrow (no shuffle); output rows ∝ "
    f"corpus tokens / stride.",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    n_chunks = F.when(F.size("toks") <= _CHUNK, F.lit(1)).otherwise(
        F.ceil((F.size("toks") - _CHUNK) / float(_STRIDE)).cast("int") + 1
    )
    ex = toks.select(
        "doc_id", "toks", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id")
    )
    # materialize the slice once — a Column referenced twice is spliced
    # (and evaluated) twice per row otherwise
    sliced = ex.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.slice(F.col("toks"), F.col("chunk_id") * _STRIDE + 1, _CHUNK).alias("chunk"),
    )
    return sliced.select(
        "doc_id",
        "chunk_id",
        F.size("chunk").cast("int").alias("n_chunk_tokens"),
        F.concat_ws(" ", "chunk").alias("chunk_text"),
    )


_PACK_BUDGET = 2048


@query(
    "q_sequence_packing",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n
               FROM documents),
    w AS (SELECT source, doc_id, n,
                 COALESCE(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cum_before
          FROM t)
    SELECT source, CAST(floor(cum_before / {_PACK_BUDGET}.0) AS INTEGER) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS pack_tokens
    FROM w GROUP BY source, pack_id
    """,
    description=f"Training-sequence packing: greedy contiguous fill of "
    f"{_PACK_BUDGET}-token packs (pack id = exclusive running token sum "
    f"÷ budget, deterministic doc_id order) — the windowed running sum "
    f"is PER SOURCE, so packing parallelizes across sources instead of "
    f"one global sort; a doc straddling the boundary joins the earlier "
    f"pack (documented overflow semantics).",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", T.token_count(F.col("text")).cast("long").alias("n"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.withColumn("cum_before", F.coalesce(F.sum("n").over(w), F.lit(0)))
    return packed.groupBy(
        "source", F.floor(F.col("cum_before") / float(_PACK_BUDGET)).cast("int").alias("pack_id")
    ).agg(F.count("*").alias("n_docs"), F.sum("n").alias("pack_tokens"))


@query(
    "q_contamination",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    sz AS (SELECT doc_id, len(sh) AS sz FROM sh),
    inter AS (
      SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
      FROM (SELECT * FROM ex WHERE doc_id % 20 <> 0) c
      JOIN (SELECT * FROM ex WHERE doc_id % 20 = 0) b ON c.s = b.s
      GROUP BY 1, 2
    )
    SELECT doc_id, bench_id, CAST(n_shared AS BIGINT) AS n_shared,
           floor(n_shared * 1000000.0 / sz + 0.5) / 1000000.0 AS containment
    FROM inter JOIN sz USING (doc_id)
    WHERE CAST(n_shared AS DOUBLE) / sz >= 0.2
    """,
    description="Eval-set decontamination: 3-gram containment "
    "(|D∩B| / |D|) of every corpus document against a benchmark set "
    "(stand-in: doc_id % 20 == 0), via a broadcast inverted-index join "
    "on shingles — never corpus × benchmark.",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 20 != 0)
    bench = d.where(F.col("doc_id") % 20 == 0)
    return dedup.contamination_pairs(corpus, bench, "doc_id", "text", threshold=0.2)


# duckdb twin of functions/text.py::fingerprint — also used inline by
# q_fingerprint / q_dedup_exact_docs above.
_SQL_FP = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


@query(
    "q_incremental_dedup",
    oracle=f"""
    WITH fp AS (SELECT doc_id, {_SQL_FP} AS fp FROM documents),
    fresh AS (
      SELECT i.doc_id, i.fp
      FROM (SELECT * FROM fp WHERE doc_id % 2 = 1) i
      ANTI JOIN (SELECT fp FROM fp WHERE doc_id % 2 = 0) e USING (fp)
    )
    SELECT doc_id, fp FROM (
      SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM fresh
    ) WHERE doc_id = keeper
    """,
    description="Incremental-ingest dedup: a new batch (odd doc_ids) "
    "anti-joins the existing corpus fingerprint index (even doc_ids), "
    "then keeps one representative per fingerprint within the batch — "
    "steady-state ingestion touches batch × index, never rescans the "
    "corpus.",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")
    )
    incoming = d.where(F.col("doc_id") % 2 == 1)
    existing = d.where(F.col("doc_id") % 2 == 0)
    return dedup.incremental_dedup(incoming, existing, "fp", "doc_id").select("doc_id", "fp")


# train/val/test boundaries over the fingerprint's first 2 hex chars
# (256 buckets): train < 'cd' (205/256 ≈ 80%), val < 'e6' (+41 ≈ 16%),
# test = rest (≈ 4%). Hex-string comparison orders correctly because
# 0-9 < a-f in ASCII and md5 output is lowercase.
_SPLIT_TRAIN_HI, _SPLIT_VAL_HI = "cd", "e6"


@query(
    "q_corpus_split",
    oracle=f"""
    SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM (
      SELECT lang,
             CASE WHEN h < '{_SPLIT_TRAIN_HI}' THEN 'train'
                  WHEN h < '{_SPLIT_VAL_HI}' THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT lang, substr({_SQL_FP}, 1, 2) AS h FROM documents)
    )
    GROUP BY split, lang
    """,
    description="Deterministic train/val/test split: the content "
    "fingerprint's first two hex chars place each document in one of "
    "256 buckets partitioned ~80/16/4 — disjoint and exhaustive (vs "
    "q_stratified_sample's per-stratum downsampling), reproducible "
    "across engines and runs, stable under corpus growth (a document's "
    "split never changes when others are added), and leakage-safe: "
    "exact duplicates share a fingerprint, so they land in the SAME "
    "split rather than straddling train and test.",
)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.substring(T.fingerprint(F.col("text")), 1, 2)
    split = (
        F.when(h < _SPLIT_TRAIN_HI, "train")
        .when(h < _SPLIT_VAL_HI, "val")
        .otherwise("test")
    )
    return d.groupBy(split.alias("split"), "lang").agg(F.count("*").alias("n_docs"))


@query(
    "q_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source, substr({_SQL_FP}, 1, 1) AS h FROM documents
    ) WHERE h < CASE lang WHEN 'en' THEN '4' WHEN 'zh' THEN 'g' ELSE '8' END
    """,
    description="Deterministic stratified sampling: per-language keep "
    "rates (en 4/16, zh 16/16, rest 8/16) decided by the first hex digit "
    "of the content fingerprint — reproducible across runs and engines, "
    "no RNG state, embarrassingly parallel, and downsamples the "
    "over-represented stratum the way a data-mixture recipe would.",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.substring(T.fingerprint(F.col("text")), 1, 1)
    rate = (
        F.when(F.col("lang") == "en", F.lit("4"))
        .when(F.col("lang") == "zh", F.lit("g"))
        .otherwise(F.lit("8"))
    )
    return d.where(h < rate).select("doc_id", "lang", "source")


# q_pii_redaction injects known-PII rows (the synthetic corpus contains
# none) so the redaction regexes are oracle-proven to behave identically
# in Java regex (Spark) and RE2 (duckdb) — including on every clean
# corpus document, where any false positive would break the hash-match.
_PII_ROWS = [
    (9_000_001, "Contact bob.smith+spam@example.co.uk or call +1 (555) 123-4567 today"),
    (9_000_002, "call 555-1234 or 020 7946 0958; mail a@b.io"),
    (9_000_003, "range 100-200 and date 2024-01-01 survive, id 12345678 does not"),
]
_SQL_PII_VALUES = ", ".join(f"({i}, '{t}')" for i, t in _PII_ROWS)


@query(
    "q_pii_redaction",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT * FROM (VALUES {_SQL_PII_VALUES}) v(doc_id, text)
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{T.EMAIL_RE}', '[EMAIL]', 'g'),
                          '{T.PHONE_RE}', '[PHONE]', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '{T.EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(
                regexp_replace(text, '{T.EMAIL_RE}', '[EMAIL]', 'g'),
                '{T.PHONE_RE}')) AS INTEGER) AS n_phones
    FROM corpus
    """,
    description="PII redaction pass (emails then phone-shaped digit "
    "groups) + per-document match counts over the corpus plus injected "
    "PII rows — pure regexp expressions, one narrow scan, no shuffle.",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    injected = d.sparkSession.createDataFrame(_PII_ROWS, "doc_id long, text string")
    corpus = d.unionByName(injected)
    n_emails, n_phones = T.pii_counts(F.col("text"))
    return corpus.select(
        "doc_id",
        T.redact_pii(F.col("text")).alias("redacted"),
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"),
    )


@query(
    "q_dup_ngram_rate",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
    freq AS (SELECT s, count(*) AS n_docs FROM ex GROUP BY s)
    SELECT ex.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (WHERE freq.n_docs >= 2) AS BIGINT) AS n_dup,
           floor(count(*) FILTER (WHERE freq.n_docs >= 2) * 1000000.0
                 / count(*) + 0.5) / 1000000.0 AS dup_rate
    FROM ex JOIN freq USING (s)
    GROUP BY ex.doc_id
    """,
    description="Per-document duplicate-shingle rate: the fraction of a "
    "doc's distinct 3-token shingles that also appear in at least one "
    "OTHER document — the memorization-risk / boilerplate report run "
    "after dedup (high rate = the doc is mostly shared text even if no "
    "single near-dup pair fired). Shingle lists are per-doc distinct, "
    "so corpus frequency = containing-doc count. Two shingle-keyed "
    "shuffles (freq agg + join), exact-integer accounting, "
    "floor(x*1e6+0.5) rate.",
)
def q_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", F.explode(T.word_shingles(F.col("text"), 3)).alias("s")
    )
    freq = ex.groupBy("s").agg(F.count("*").alias("n_docs"))
    j = ex.join(freq, "s")
    n_dup = F.count(F.when(F.col("n_docs") >= 2, True))
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        n_dup.alias("n_dup"),
        (F.floor(n_dup * 1000000.0 / F.count("*") + 0.5) / 1000000.0).alias("dup_rate"),
    )


# Winnowing parameters: 12-char grams, windows of 6 gram hashes.
_WINNOW_K, _WINNOW_W = 12, 6


def _sql_gram_hash(j_expr: str, k: int) -> str:
    """duckdb twin of the functions.text gram hash: the same
    fixed-power polynomial over the codepoint list, per-term mod, chars
    past the end contributing 0 (codes[out-of-range] is NULL)."""
    from stream_processing_platform_spark.functions.text import (
        WINNOW_HASH_B,
        WINNOW_HASH_M,
    )

    terms = " + ".join(
        f"((coalesce(codes[CAST({j_expr} + {i} AS INTEGER)], 0)"
        f" * {pow(WINNOW_HASH_B, k - 1 - i, WINNOW_HASH_M)})"
        f" % {WINNOW_HASH_M})"
        for i in range(k)
    )
    return f"(({terms}) % {WINNOW_HASH_M})"


def _winnow_sql_hash(j_expr: str) -> str:
    return _sql_gram_hash(j_expr, _WINNOW_K)


# Shared fps stage for both winnow oracles: normalize -> codepoint list
# -> per-position polynomial gram hashes -> clipped w-window minima ->
# distinct. duckdb list slicing hs[a:b] clips to bounds exactly like
# Spark's F.slice, so short docs (< K+W-1 chars) min over the same
# grams on both engines.
_WINNOW_SQL_FPS = f"""
    n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
          FROM documents),
    c AS (SELECT doc_id, len(t) AS L,
                 list_transform(range(1, len(t) + 1),
                   i -> CAST(unicode(substr(t, CAST(i AS INTEGER), 1)) AS BIGINT)
                 ) AS codes
          FROM n),
    h AS (SELECT doc_id, greatest(L - {_WINNOW_K - 1}, 1) AS G,
                 list_transform(range(1, greatest(L - {_WINNOW_K - 1}, 1) + 1),
                   j -> {_winnow_sql_hash('j')}) AS hs
          FROM c),
    fps AS (
      SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, greatest(G - {_WINNOW_W - 1}, 1) + 1),
          jw -> list_min(hs[CAST(jw AS INTEGER):CAST(jw + {_WINNOW_W - 1} AS INTEGER)])
        ))) AS fp
      FROM h)
"""


@query(
    "q_winnow_fingerprints",
    oracle=f"""
    WITH {_WINNOW_SQL_FPS}
    SELECT doc_id, fp FROM fps
    """,
    description=f"Winnowed k-gram fingerprints (MOSS): polynomial-hash "
    f"every {_WINNOW_K}-char gram of the normalized text, keep each "
    f"{_WINNOW_W}-hash window's minimum, dedupe, explode to (doc_id, "
    f"fp) rows — the copy-detection index robust to edits that break "
    f"whole-document hashing. All-JVM int64 arithmetic (the duckdb "
    f"oracle evaluates the identical expression), one narrow scan, no "
    f"shuffle; at 100 TB the (fp, doc_id) output is the input to a "
    f"bucket-join candidate stage exactly like MinHash bands.",
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    # CPU-bound fingerprint stage over a single-row-group parquet scan:
    # fan the 1-task scan out first (no-op at real scale — see CLAUDE.md)
    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.explode(T.winnow_fingerprints(F.col("text"), _WINNOW_K, _WINNOW_W)).alias("fp"),
    )


_WINNOW_MIN_SHARED = 10
# Posting-list cap: a print shared by more docs than this is boilerplate
# (ubiquitous gram) and generates O(m^2) candidate pairs for zero
# discriminative value — dropped on BOTH engines, the standard
# inverted-index mitigation.
_WINNOW_MAX_POSTINGS = 200


@query(
    "q_winnow_dup_pairs",
    oracle=f"""
    WITH {_WINNOW_SQL_FPS},
    buckets AS (
      SELECT fp, list_sort(list(doc_id)) AS ds FROM fps GROUP BY fp
      HAVING count(*) BETWEEN 2 AND {_WINNOW_MAX_POSTINGS}
    ),
    pairs AS (
      SELECT unnest(flatten(list_transform(ds,
               (x, i) -> list_transform(ds[i+1:], y -> {{'id_a': x, 'id_b': y}})))) AS p
      FROM buckets
    )
    SELECT p.id_a AS id_a, p.id_b AS id_b, CAST(count(*) AS BIGINT) AS n_shared
    FROM pairs GROUP BY 1, 2
    HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """,
    description=f"Copy-detection pairs from winnowed fingerprints: "
    f"documents sharing >= {_WINNOW_MIN_SHARED} window-min prints. "
    f"Formulated as bucket pair-expansion, NOT a self-join: prints are "
    f"computed ONCE, grouped into (fp -> sorted doc list) posting "
    f"lists, and each bucket expands its C(m,2) pairs inline — no "
    f"second scan re-running the gram-hash chain, no join stage at "
    f"all. Buckets larger than {_WINNOW_MAX_POSTINGS} docs are "
    f"boilerplate grams, dropped on both engines — the inverted-index "
    f"skew cap that bounds the m^2 expansion at 100 TB.",
)
def q_winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    # Count-first, list-second (r8 verdict #4): the boilerplate cap must
    # filter hot fingerprints BEFORE any posting list materializes — a
    # print shared by 10^8 docs is a multi-GB single-reducer array if
    # collect_list runs first. count(*) state is O(1) per key; one
    # explicit fp-keyed exchange feeds both the count branch and the
    # list branch (ReusedExchange — the Arrow fingerprint scan runs
    # once), and the surviving-key join is co-partitioned on fp.
    fps = d.select(
        "doc_id",
        F.explode(T.winnow_fingerprints(F.col("text"), _WINNOW_K, _WINNOW_W)).alias("fp"),
    ).repartition("fp")
    # count(doc_id), not count(*): keeps doc_id referenced so column
    # pruning can't specialize this branch's subplan — both branches
    # share one identical fp-keyed Exchange and Catalyst's ReusedExchange
    # runs the Arrow fingerprint scan ONCE (doc_id is never null, so the
    # counts are identical).
    keep = (
        fps.groupBy("fp")
        .agg(F.count("doc_id").alias("_cnt"))
        .where((F.col("_cnt") >= 2) & (F.col("_cnt") <= _WINNOW_MAX_POSTINGS))
        .select("fp")
    )
    # merge hint: surviving keys scale with the corpus — AQE's small-SF
    # estimate would broadcast them and invert the 100 TB plan.
    buckets = fps.join(keep.hint("merge"), "fp").groupBy("fp").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
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
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )


# Substring-span duplicate detection: gram length (chars of normalized
# text) — long enough that a shared span is real duplication, short
# enough that the sf0.01 planted near-dups light up.
_SPAN_LEN = 25


@query(
    "q_substring_dup_spans",
    oracle=f"""
    WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
               FROM documents),
    c AS (SELECT doc_id, len(t) AS L,
                 list_transform(range(1, len(t) + 1),
                   i -> CAST(unicode(substr(t, CAST(i AS INTEGER), 1)) AS BIGINT)
                 ) AS codes
          FROM n),
    h AS (SELECT doc_id, L,
                 list_transform(range(1, greatest(L - {_SPAN_LEN - 1}, 1) + 1),
                   j -> {_sql_gram_hash('j', _SPAN_LEN)}) AS hs
          FROM c),
    g AS (SELECT doc_id, L, unnest(hs) AS fp,
                 CAST(generate_subscripts(hs, 1) AS BIGINT) AS pos
          FROM h),
    dup AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS nd FROM g GROUP BY fp)
            WHERE nd >= 2),
    cov AS (SELECT g.doc_id, g.L, g.pos FROM g JOIN dup USING (fp)),
    brk AS (
      SELECT doc_id, L, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > {_SPAN_LEN} THEN 1 ELSE 0 END AS b
      FROM cov),
    isl AS (
      SELECT doc_id, L, pos,
             sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM brk)
    SELECT doc_id,
           min(pos) AS span_start,
           least(max(pos) + {_SPAN_LEN - 1}, any_value(L)) AS span_end,
           least(max(pos) + {_SPAN_LEN - 1}, any_value(L)) - min(pos) + 1 AS span_len
    FROM isl GROUP BY doc_id, island
    """,
    description=f"Exact substring-duplication SPANS (Lee et al. 2021, "
    f"arXiv:2107.06499 — character-level dedup): maximal normalized-"
    f"text ranges covered by {_SPAN_LEN}-char grams appearing in >= 2 "
    f"distinct documents (operators/dedup.substring_dup_spans). The "
    f"suffix-array formulation doesn't distribute; position-indexed "
    f"polynomial gram hashes do — one Arrow hash scan, a hash-keyed "
    f"distinct-doc frequency aggregate, a hash join back, and a "
    f"per-document gaps-and-islands interval merge riding one sort. "
    f"Same gram hash as the winnow family, full cross-engine oracle.",
)
def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.substring_dup_spans(d, "doc_id", "text", min_len=_SPAN_LEN)


@query(
    "q_top_tokens",
    oracle=f"""
    WITH tok AS (SELECT unnest({_SQL_TOKENS}) AS tok FROM documents)
    SELECT tok, CAST(count(*) AS BIGINT) AS n
    FROM tok GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT 50
    """,
    description="Corpus heavy hitters: top-50 tokens by frequency — the "
    "vocabulary/stopword inspection step before building filters or "
    "commonness scores. Scale shape: map-side partial counts, one "
    "token-keyed shuffle, then TakeOrderedAndProject (per-partition "
    "top-50 partials merged on the driver — never a global sort of the "
    "vocabulary).",
)
def q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(50)
    )


@query(
    "q_doc_commonness",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents),
    tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY tok)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(tf) AS BIGINT) AS sum_tf,
           floor(sum(tf) * 1000.0 / count(*) + 0.5) / 1000.0 AS mean_tf
    FROM tok JOIN tf USING (tok)
    GROUP BY doc_id
    """,
    description="Per-document token commonness (IDF-family quality "
    "signal): join each token against the corpus-wide term-frequency "
    "table and aggregate per doc — low mean_tf flags rare-token-heavy "
    "gibberish, high flags boilerplate. Exact-integer accounting "
    "(counts, not log-probs) so the oracle hash-matches; the mean uses "
    "the floor(x*1000+0.5) cross-engine rounding form. Scale shape: two "
    "token-keyed shuffles (tf agg + join) — both partial-aggregated "
    "map-side; stopword keys are the documented skew (AQE skew-join or "
    "a broadcast stopword split are the standard mitigations).",
)
def q_doc_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    tf = tok.groupBy("tok").agg(F.count("*").alias("tf"))
    return (
        tok.join(tf, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("tf").alias("sum_tf"),
            (F.floor(F.sum("tf") * 1000.0 / F.count("*") + 0.5) / 1000.0).alias("mean_tf"),
        )
    )


# Mixture recipe: parts-per-source (integer weights; src0..src19 get
# parts 1..5 cyclically, total 60) under a fixed token budget. Targets
# are exact integer shares (budget * parts // 60) so Spark and duckdb
# agree bit-for-bit; admission order is the content fingerprint, so the
# selection is a pure function of corpus content.
_MIX_WEIGHTS = {f"src{i}": 1 + i % 5 for i in range(20)}
_MIX_BUDGET = 24_000
_SQL_MIX_TGT = ", ".join(
    f"('{s}', {t})"
    for s, t in sorted(mixture_targets(_MIX_WEIGHTS, _MIX_BUDGET).items())
)


_PPS_N, _PPS_BK = 100, 100


@query(
    "q_pps_sample",
    oracle=f"""
    WITH t AS (SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS w,
                      doc_id // {_PPS_BK} AS bk
               FROM documents
               WHERE len({_SQL_TOKENS}) > 0),
    bt AS (SELECT bk, sum(w) AS btot FROM t GROUP BY bk),
    offs AS (SELECT bk, COALESCE(sum(btot) OVER (ORDER BY bk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
             FROM bt),
    tot AS (SELECT sum(btot) AS total FROM bt),
    cums AS (
      SELECT t.doc_id, t.w,
             offs.off + sum(t.w) OVER (PARTITION BY t.bk ORDER BY t.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t JOIN offs USING (bk)
    )
    SELECT doc_id, w AS weight,
           CAST((cum * {_PPS_N}) // total - ((cum - w) * {_PPS_N}) // total
                AS BIGINT) AS picks
    FROM cums CROSS JOIN tot
    WHERE (cum * {_PPS_N}) // total - ((cum - w) * {_PPS_N}) // total > 0
    """,
    description=f"Systematic PPS sample, {_PPS_N} picks proportional to "
    f"token weight (operators/mixture.pps_systematic_sample): exact "
    f"integer selection — picks = (cum·N) div total − ((cum−w)·N) div "
    f"total, telescoping to exactly N — over a DISTRIBUTED two-phase "
    f"prefix sum (bucket totals + small-table prefix offsets + "
    f"within-bucket window; never a global single-partition window). "
    f"No RNG, no floats: reproducible across engines/runs/cluster "
    f"sizes, integer `div` on both sides (duckdb // — the "
    f"q_rolling_slope rule).",
)
def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators import mixture

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", T.token_count(F.col("text")).cast("long").alias("n"))
    return mixture.pps_systematic_sample(
        t, "n", _PPS_N, id_col="doc_id", bucket_size=_PPS_BK
    )


@query(
    "q_corpus_mixture",
    oracle=f"""
    WITH tgt(source, mix_target) AS (VALUES {_SQL_MIX_TGT}),
    t AS (SELECT doc_id, source, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n,
                 {_SQL_FP} AS h
          FROM documents),
    w AS (SELECT t.source, t.n, tgt.mix_target,
                 COALESCE(sum(t.n) OVER (PARTITION BY t.source
                          ORDER BY t.h, t.doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cum_before
          FROM t JOIN tgt USING (source))
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS mix_tokens,
           CAST(max(mix_target) AS BIGINT) AS mix_target
    FROM w WHERE cum_before < mix_target GROUP BY source
    """,
    description="Corpus mixture weighting (operators/mixture.py): a "
    "20-source recipe (integer parts, exact-integer token targets = "
    "budget*parts//60) realized by broadcast-joining the recipe and "
    "admitting documents per source in content-fingerprint order until "
    "the target is met — deterministic across engines/runs, one "
    "window shuffle, no global sort; boundary doc admitted whole.",
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators import mixture

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        T.token_count(F.col("text")).cast("long").alias("n"),
        T.fingerprint(F.col("text")).alias("h"),
    )
    kept = mixture.corpus_mixture(t, _MIX_WEIGHTS, _MIX_BUDGET, "n", hash_col="h")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("mix_tokens"),
        F.max("mix_target").alias("mix_target"),
    )


@query(
    "q_corpus_mixture_bpe",
    oracle=None,  # real-BPE counts have no SQL twin — selection
    # invariants + pure-Python greedy cross-check in tests/test_bpe.py
    description="Corpus mixture weighting on REAL BPE token counts "
    "(same recipe/operator as q_corpus_mixture, counts from the "
    "broadcast-vocab Arrow tokenizer) — the production variant: the "
    "mixture a training run actually ingests is budgeted in tokenizer "
    "tokens, not regex estimates.",
)
def q_corpus_mixture_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.functions import bpe
    from stream_processing_platform_spark.operators import mixture

    d = load_table(spark, sf_dir, "documents")
    count_udf = bpe.token_count_udf(spark)
    t = d.select(
        "doc_id",
        "source",
        count_udf(F.col("text")).cast("long").alias("n"),
        T.fingerprint(F.col("text")).alias("h"),
    )
    kept = mixture.corpus_mixture(t, _MIX_WEIGHTS, _MIX_BUDGET, "n", hash_col="h")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("mix_tokens"),
        F.max("mix_target").alias("mix_target"),
    )


@query(
    "q_token_histogram",
    oracle=f"""
    SELECT CAST(floor(len({_SQL_TOKENS}) / 10) * 10 AS INTEGER) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1
    """,
    description="Token-length histogram (width-10 buckets) — the length "
    "distribution a pipeline inspects before setting filter bounds.",
)
def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select((F.floor(T.token_count(F.col("text")) / 10) * 10).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# Real BPE tokenization (functions/bpe.py): the fidelity upgrade over the
# regex pre-token ESTIMATE used by q_bpe_token_count / q_doc_chunking /
# q_sequence_packing. Greedy merge order IS SQL-expressible after all:
# q_bpe_real and q_sequence_packing_bpe get GENERATED duckdb oracles
# (rank-order replace-chain — see _bpe_count_ctes at the end of this
# file) patched in via _dc_replace2; q_doc_chunking_bpe (decoded chunk
# TEXT, not just counts) stays oracle=None, pinned by tests/test_bpe.py
# (known-merge encodings, lossless round-trip, Spark-vs-pure-Python
# equality on the corpus).
# --------------------------------------------------------------------------


@query(
    "q_bpe_real",
    oracle=None,  # patched below: generated rank-order replace-chain oracle
    description="Real byte-level BPE token count per document (trained "
    "merge table broadcast to executors, Arrow pandas_udf encode) next "
    "to the regex pre-token estimate it supersedes; estimate_err is the "
    "budgeting error a regex-only pipeline would eat.",
)
def q_bpe_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.functions import bpe

    d = load_table(spark, sf_dir, "documents")
    count_udf = bpe.token_count_udf(spark)
    return d.select(
        "doc_id",
        count_udf(F.col("text")).alias("n_bpe_real"),
        T.bpe_token_count(F.col("text")).cast("int").alias("n_bpe_estimate"),
    ).withColumn("estimate_err", F.col("n_bpe_estimate") - F.col("n_bpe_real"))


@query(
    "q_sequence_packing_bpe",
    oracle=None,  # patched below: generated BPE-count CTE + pack window;
    # packing invariants additionally proven in
    # tests/test_bpe.py::test_sequence_packing_bpe_invariants
    description=f"Training-sequence packing on REAL BPE token counts "
    f"(same greedy per-source running-sum pack rule as "
    f"q_sequence_packing, {_PACK_BUDGET}-token budget) — the variant a "
    f"production pipeline runs, since chunk/pack budgets are enforced "
    f"by the actual tokenizer, not a regex estimate.",
)
def q_sequence_packing_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from stream_processing_platform_spark.functions import bpe

    d = load_table(spark, sf_dir, "documents")
    count_udf = bpe.token_count_udf(spark)
    t = d.select("doc_id", "source", count_udf(F.col("text")).cast("long").alias("n"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = t.withColumn("cum_before", F.coalesce(F.sum("n").over(w), F.lit(0)))
    return packed.groupBy(
        "source", F.floor(F.col("cum_before") / float(_PACK_BUDGET)).cast("int").alias("pack_id")
    ).agg(F.count("*").alias("n_docs"), F.sum("n").alias("pack_tokens"))


@query(
    "q_doc_chunking_bpe",
    oracle=None,  # real-BPE ids have no SQL twin — chunk invariants and
    # lossless text reconstruction proven in tests/test_bpe.py
    description=f"Context-window chunking on REAL BPE token ids "
    f"({_CHUNK}-token chunks, stride {_STRIDE}): encode once per doc "
    f"(broadcast merge table), explode chunk indices, slice the id "
    f"array, decode each slice back to text — boundaries fall between "
    f"real tokens, never mid-token, so chunk budgets are exact for the "
    f"tokenizer that will consume them.",
)
def q_doc_chunking_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.functions import bpe

    d = load_table(spark, sf_dir, "documents")
    ids_udf = bpe.token_ids_udf(spark)
    dec_udf = bpe.decode_udf(spark)
    toks = d.select("doc_id", ids_udf(F.col("text")).alias("ids"))
    n_chunks = F.when(F.size("ids") <= _CHUNK, F.lit(1)).otherwise(
        F.ceil((F.size("ids") - _CHUNK) / float(_STRIDE)).cast("int") + 1
    )
    ex = toks.select(
        "doc_id", "ids", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id")
    )
    sliced = ex.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.slice(F.col("ids"), F.col("chunk_id") * _STRIDE + 1, _CHUNK).alias("chunk_ids"),
    )
    return sliced.select(
        "doc_id",
        "chunk_id",
        F.size("chunk_ids").cast("int").alias("n_chunk_tokens"),
        dec_udf(F.col("chunk_ids")).alias("chunk_text"),
    )


@query(
    "q_heavy_hitters",
    oracle=f"""
    WITH tok AS (SELECT unnest({_SQL_TOKENS}) AS tok FROM documents)
    SELECT tok, CAST(count(*) AS BIGINT) AS cnt
    FROM tok GROUP BY tok
    HAVING count(*) * 100 > (SELECT count(*) FROM tok)
    """,
    description="Exact heavy hitters (tokens above 1% of the corpus "
    "stream) via distributed Misra-Gries sketch-then-verify "
    "(operators/sketches.py): per-partition MG summaries (O(k) memory, "
    "no vocabulary shuffle) produce a guaranteed-superset candidate "
    "set, a broadcast semi-join verifies exact counts for candidates "
    "only — so a sketch-based operator still carries a full hash "
    "oracle. The eviction path is exercised by a large-vocab synthetic "
    "corpus in tests/test_scale_ops.py (the fixture vocabulary is "
    "smaller than the counter budget).",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.sketches import heavy_hitters
    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    d = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    tok = d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
    return heavy_hitters(tok, "tok", phi_denom=100)


@query(
    "q_unigram_logprob",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents),
    tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY tok),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           floor(sum(ln(n.total) - ln(tf.tf)) * 10000.0 / count(*) + 0.5)
             / 10000.0 AS mean_nll
    FROM tok t JOIN tf USING (tok) CROSS JOIN n
    GROUP BY t.doc_id
    """,
    description="Unigram language-model quality score (CCNet-style "
    "perplexity filter): per-document mean negative log-probability "
    "under the corpus's own unigram LM — high mean_nll flags rare-"
    "token-heavy gibberish, unusually low flags boilerplate; the "
    "standard cheap LM filter before a real perplexity model. Scale "
    "shape: token-keyed tf aggregate (map-side partials) + one join "
    "back, 1-row corpus total broadcast. Per-row ln() is evaluated on "
    "bit-identical inputs in both engines and the 4dp mean uses the "
    "floor(x+0.5) form, keeping the ~1-ulp libm divergence five orders "
    "of magnitude under the rounding step (same doctrine that keeps "
    "q_udaf_geomean green).",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    tf = tok.groupBy("tok").agg(F.count("*").alias("tf"))
    total = tok.agg(F.count("*").alias("_total"))
    return (
        tok.join(tf, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.floor(
                    F.sum(F.ln(F.col("_total")) - F.ln(F.col("tf"))) * 10000.0
                    / F.count("*")
                    + 0.5
                )
                / 10000.0
            ).alias("mean_nll"),
        )
    )


_HTML_PRE = (
    '<html><head><script type="text/javascript">var x = 1 < 2;</script>'
    "<style>p { color: red; }</style></head><body><h1>"
)
_HTML_MID = "</h1><!-- boilerplate --><p>"
_HTML_POST = "</p><p>Tom &amp; Jerry &lt;3&nbsp;</p></body></html>"


def _html_oracle() -> str:
    from stream_processing_platform_spark.functions.html import strip_html_sql

    raw = f"'{_HTML_PRE}' || source || '{_HTML_MID}' || text || '{_HTML_POST}'"
    stripped = strip_html_sql(raw)
    return f"""
    WITH x AS (SELECT doc_id, {stripped} AS extracted,
                      CAST(length({raw}) AS BIGINT) AS raw_len
               FROM documents)
    SELECT doc_id, extracted,
           floor(length(extracted) * 10000.0 / raw_len + 0.5) / 10000.0
             AS density
    FROM x
    """


@query(
    "q_html_extract",
    oracle=None,  # generated below from the same step table
    description="HTML boilerplate removal (functions/html.py): wrap each "
    "document in deterministic page chrome (script with a bare '<', "
    "style, comment, entities incl. the &amp;lt; double-decode trap), "
    "then extract visible text with the regexp_replace chain shared — "
    "step for step — with the DuckDB oracle (patterns valid in both "
    "Java regex and RE2; global flag explicit on the SQL side), plus "
    "the text-density boilerplate signal on exact integer lengths. "
    "Pure JVM column expressions: whole-stage codegen, no UDF.",
)
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.functions.html import strip_html, text_density

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit(_HTML_PRE), F.col("source"), F.lit(_HTML_MID), F.col("text"), F.lit(_HTML_POST)
    )
    # two-step projection so the regex chain is declared once; density
    # then needs only the lengths
    step1 = d.select(
        "doc_id", strip_html(raw).alias("extracted"), F.length(raw).alias("_raw_len")
    )
    return step1.select(
        "doc_id",
        "extracted",
        (F.floor(F.length("extracted") * 10000.0 / F.col("_raw_len") + 0.5) / 10000.0).alias(
            "density"
        ),
    )


_REG2 = __import__("stream_processing_platform_spark.registry", fromlist=["REGISTRY"]).REGISTRY
from dataclasses import replace as _dc_replace2  # noqa: E402

_REG2["q_html_extract"] = _dc_replace2(_REG2["q_html_extract"], oracle=_html_oracle())


_BM25_TERMS = ["join", "hash", "batch", "scan", "filter"]


def _bm25_oracle() -> str:
    from stream_processing_platform_spark.operators.ranking import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_TERMS)


@query(
    "q_bm25_rank",
    oracle=_bm25_oracle(),
    description="Okapi BM25 relevance scores (operators/ranking.py) for "
    "a fixed 5-term query over the documents corpus — the retrieval "
    "primitive for query-targeted corpus selection. Broadcast term "
    "table, one (doc, term) tf aggregate with map-side partials, "
    "term-level df + corpus avgdl folded in by broadcast joins; the "
    "duckdb oracle is GENERATED from the same (terms, k1, b) the Spark "
    "side runs, constant for constant. ln under the 4dp floor(x+0.5) "
    "doctrine.",
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.ranking import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    return bm25_scores(d, _BM25_TERMS)


# Hybrid-retrieval constants shared by the Spark query and its
# generated oracle (CLAUDE.md generated-oracle rule): RRF smoothing k,
# per-retriever list depth, fused output depth, semantic query vector.
_RRF_K = 60
_RRF_LIST_K = 200
_RRF_OUT_K = 100
_RRF_QUERY_VEC_ID = 0


def _hybrid_rrf_oracle() -> str:
    from stream_processing_platform_spark.operators.ranking import bm25_oracle_sql

    bm25 = bm25_oracle_sql(_BM25_TERMS)
    return f"""
    WITH lex AS (SELECT doc_id AS id, bm25 FROM ({bm25})),
    lr AS (SELECT id, r FROM (
             SELECT id, row_number() OVER (ORDER BY bm25 DESC, id ASC) AS r
             FROM lex) WHERE r <= {_RRF_LIST_K}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    qv AS (SELECT v FROM e WHERE vec_id = {_RRF_QUERY_VEC_ID}),
    sem AS (SELECT e.vec_id AS id,
                   floor(list_inner_product(e.v, qv.v)
                         / (sqrt(list_inner_product(e.v, e.v))
                            * sqrt(list_inner_product(qv.v, qv.v)))
                         * 1000000.0 + 0.5) / 1000000.0 AS cos
            FROM e CROSS JOIN qv),
    sr AS (SELECT id, r FROM (
             SELECT id, row_number() OVER (ORDER BY cos DESC, id ASC) AS r
             FROM sem) WHERE r <= {_RRF_LIST_K}),
    fused AS (
      SELECT coalesce(lr.id, sr.id) AS id,
             coalesce(1.0 / (lr.r + {_RRF_K}), 0.0)
               + coalesce(1.0 / (sr.r + {_RRF_K}), 0.0) AS rrf,
             lr.r IS NOT NULL AS in_a, sr.r IS NOT NULL AS in_b
      FROM lr FULL OUTER JOIN sr ON lr.id = sr.id)
    SELECT id, rrf, in_a, in_b, rank FROM (
      SELECT id, rrf, in_a, in_b,
             CAST(row_number() OVER (ORDER BY rrf DESC, id ASC) AS INTEGER) AS rank
      FROM fused) WHERE rank <= {_RRF_OUT_K}
    """


@query(
    "q_hybrid_rrf",
    oracle=None,  # generated below from the same constants (_dc_replace)
    description="Hybrid retrieval with reciprocal-rank fusion "
    "(operators/ranking.py:rrf_fuse, Cormack et al. SIGIR 2009): BM25 "
    "top-200 over documents fused with embedding-cosine top-200 "
    "against a fixed query vector, rrf = 1/(60+r_lex) + 1/(60+r_sem), "
    "fused top-100 out. Scale shape: each retriever's list is a "
    "distributed TakeOrderedAndProject top-k; the rank window and the "
    "full-outer fusion join then touch only the two bounded k-row "
    "lists (single-partition windows over <=200 rows, broadcast-sized "
    "join) — never the corpus. rrf is pure IEEE arithmetic on integer "
    "ranks, bit-identical cross-engine without a rounding step; the "
    "oracle is GENERATED from the same (terms, k, depths) constants.",
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.functions.similarity import (
        as_double_array,
        cosine,
    )
    from stream_processing_platform_spark.operators.ranking import bm25_scores, rrf_fuse
    from stream_processing_platform_spark.operators.topk import top_k_global

    d = load_table(spark, sf_dir, "documents")
    lex_top = top_k_global(
        bm25_scores(d, _BM25_TERMS).select(F.col("doc_id").alias("id"), "bm25"),
        [F.col("bm25").desc(), F.col("id").asc()],
        _RRF_LIST_K,
    )
    w_lex = Window.orderBy(F.col("bm25").desc(), F.col("id").asc())
    lr = lex_top.select("id", F.row_number().over(w_lex).alias("r"))

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("_v")
    )
    qv = e.where(F.col("vec_id") == _RRF_QUERY_VEC_ID).select(F.col("_v").alias("_q"))
    sem = e.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("id"),
        (F.floor(cosine(F.col("_v"), F.col("_q")) * 1e6 + F.lit(0.5)) / 1e6).alias("cos"),
    )
    sem_top = top_k_global(sem, [F.col("cos").desc(), F.col("id").asc()], _RRF_LIST_K)
    w_sem = Window.orderBy(F.col("cos").desc(), F.col("id").asc())
    sr = sem_top.select("id", F.row_number().over(w_sem).alias("r"))

    fused = rrf_fuse(lr, sr, id_col="id", rank_col="r", k=_RRF_K)
    w_out = Window.orderBy(F.col("rrf").desc(), F.col("id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(w_out).cast("int"))
        .where(F.col("rank") <= _RRF_OUT_K)
    )


_REG2["q_hybrid_rrf"] = _dc_replace2(_REG2["q_hybrid_rrf"], oracle=_hybrid_rrf_oracle())


@query(
    "q_sentence_split",
    oracle="""
    WITH prose AS (
      SELECT doc_id,
             substr(text, 1, 40) || '. ' || substr(text, 41, 60) || '! '
               || 'Source ' || source || '?  ' || substr(text, 101, 80) || '.'
               AS prose
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             generate_subscripts(parts, 1) AS sent_idx,
             trim(unnest(parts)) AS sentence
      FROM (SELECT doc_id,
                   string_split_regex(prose, '[.!?]+\\s+') AS parts
            FROM prose)
    )
    SELECT doc_id, CAST(sent_idx AS INTEGER) AS sent_idx, sentence,
           CAST(len(list_filter(string_split_regex(lower(sentence), '\\s+'),
                                t -> t <> '')) AS INTEGER) AS n_tokens
    FROM s
    WHERE sentence <> ''
    """,
    description="Sentence segmentation — the text-preprocessing "
    "primitive under chunking/packing (sentence prose synthesized "
    "identically in both engines — the raw corpus has no punctuation): "
    "split on terminal punctuation "
    "runs ([.!?]+ + whitespace; no lookbehind — RE2 and Java regex "
    "agree), posexplode with a stable per-doc sentence index, trimmed "
    "empties dropped, per-sentence token counts from the shared "
    "tokenizer. Narrow op: no shuffle at all — sentences explode "
    "inside the scan task.",
)
def q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40), F.lit(". "),
            F.substring("text", 41, 60), F.lit("! "),
            F.lit("Source "), F.col("source"), F.lit("?  "),
            F.substring("text", 101, 80), F.lit("."),
        ).alias("prose"),
    )
    parts = F.split(F.col("prose"), r"[.!?]+\s+")
    s = d.select(
        "doc_id", F.posexplode(parts).alias("pos", "raw")
    ).select(
        "doc_id",
        (F.col("pos") + 1).cast("int").alias("sent_idx"),
        F.trim(F.col("raw")).alias("sentence"),
    ).where(F.col("sentence") != "")
    return s.withColumn("n_tokens", F.size(T.tokens(F.col("sentence"))).cast("int"))


@query(
    "q_fuzzy_token_pairs",
    oracle=f"""
    WITH base AS (SELECT DISTINCT unnest({_SQL_TOKENS}) AS t FROM documents),
    noisy AS (
      SELECT t FROM base
      UNION SELECT t || 'q' FROM base
      UNION SELECT substr(t, 2) FROM base WHERE len(t) >= 3
    ),
    v AS (SELECT DISTINCT t FROM noisy WHERE len(t) >= 2)
    SELECT a.t AS tok_a, b.t AS tok_b,
           CAST(levenshtein(a.t, b.t) AS INTEGER) AS distance
    FROM v a JOIN v b
      ON a.t < b.t AND abs(len(a.t) - len(b.t)) <= 1
    WHERE levenshtein(a.t, b.t) <= 1
    """,
    description="Fuzzy vocabulary pairs (operators/fuzzy.py): edit-"
    "distance-1 matches across the corpus vocabulary augmented with "
    "deterministic noisy variants (appended char + dropped first char "
    "— built identically in both engines; the synthetic vocabulary has "
    "no natural typos). Candidates meet through length-band EQUI-joins "
    "(|len diff| <= d is necessary for distance <= d — provably "
    "complete blocking, never a cartesian); verify is the built-in "
    "levenshtein, identical DP in Spark and duckdb. The record-linkage "
    "/ typo-normalization primitive.",
)
def q_fuzzy_token_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.fuzzy import fuzzy_self_pairs

    d = load_table(spark, sf_dir, "documents")
    base = d.select(F.explode(T.tokens(F.col("text"))).alias("t")).distinct()
    noisy = (
        base.select("t")
        .unionByName(base.select(F.concat(F.col("t"), F.lit("q")).alias("t")))
        .unionByName(
            base.where(F.length("t") >= 3).select(F.substring(F.col("t"), 2, 1_000_000).alias("t"))
        )
        .distinct()
    )
    out = fuzzy_self_pairs(noisy, "t", max_distance=1, min_length=2)
    return out.withColumn("distance", F.col("distance").cast("int"))


_PROSE_SQL = """
      SELECT doc_id,
             substr(text, 1, 40) || '. ' || substr(text, 41, 60) || '! '
               || 'Source ' || source || '?  ' || substr(text, 101, 80) || '.'
               AS prose
      FROM documents
"""


@query(
    "q_line_dedup",
    oracle=f"""
    WITH prose AS ({_PROSE_SQL}),
    s AS (
      SELECT doc_id,
             generate_subscripts(parts, 1) AS sent_idx,
             trim(unnest(parts)) AS sentence
      FROM (SELECT doc_id,
                   string_split_regex(prose, '[.!?]+\\s+') AS parts
            FROM prose)
    ),
    nonempty AS (SELECT * FROM s WHERE sentence <> ''),
    first_owner AS (
      SELECT doc_id, sent_idx, sentence,
             row_number() OVER (PARTITION BY sentence
                                ORDER BY doc_id ASC, sent_idx ASC) AS occ
      FROM nonempty
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN occ = 1 THEN sentence END, ' | '
                               ORDER BY sent_idx), '') AS kept,
           CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM first_owner
    GROUP BY doc_id
    """,
    description="C4-style corpus-level line deduplication: every "
    "sentence that occurs more than once in the corpus survives only "
    "at its FIRST occurrence ((doc_id, sent_idx) order) — the classic "
    "boilerplate-removal pass (here the synthesized 'Source X' "
    "sentence repeats across every doc of a source and gets stripped "
    "from all but one). One shuffle keyed on the sentence for the "
    "first-occurrence window, one per-doc reassembly aggregate with "
    "deterministic in-doc order. Docs reduced to nothing emit an "
    "empty-string kept column (never null).",
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    prose = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40), F.lit(". "),
            F.substring("text", 41, 60), F.lit("! "),
            F.lit("Source "), F.col("source"), F.lit("?  "),
            F.substring("text", 101, 80), F.lit("."),
        ).alias("prose"),
    )
    s = prose.select(
        "doc_id", F.posexplode(F.split(F.col("prose"), r"[.!?]+\s+")).alias("pos", "raw")
    ).select(
        "doc_id", (F.col("pos") + 1).alias("sent_idx"), F.trim(F.col("raw")).alias("sentence")
    ).where(F.col("sentence") != "")
    w = Window.partitionBy("sentence").orderBy(F.col("doc_id").asc(), F.col("sent_idx").asc())
    fo = s.withColumn("occ", F.row_number().over(w))
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("occ") == 1, F.struct("sent_idx", "sentence"))
            )
        ),
        lambda x: x["sentence"],
    )
    return fo.groupBy("doc_id").agg(
        F.concat_ws(" | ", kept_sorted).alias("kept"),
        F.sum(F.when(F.col("occ") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("occ") > 1, 1).otherwise(0)).alias("n_dropped"),
    )


@query(
    "q_pipeline_funnel",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKENS} AS w FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(w) AS INTEGER) AS n_tokens,
             {_SQL_QUALITY} AS quality,
             {_SQL_REP2} AS rep_bigram,
             {_SQL_FP} AS fp
      FROM t
    ),
    q AS (SELECT * FROM m
          WHERE n_tokens >= 25 AND rep_bigram <= 0.10 AND quality >= 0.42),
    d AS (SELECT * FROM q
          WHERE doc_id = (SELECT min(doc_id) FROM q q2 WHERE q2.fp = q.fp)),
    s AS (SELECT *, CASE WHEN substr(fp, 1, 2) < '{_SPLIT_TRAIN_HI}' THEN 'train'
                         WHEN substr(fp, 1, 2) < '{_SPLIT_VAL_HI}' THEN 'val'
                         ELSE 'test' END AS split
          FROM d),
    stages AS (
      SELECT 1 AS stage_idx, 'raw' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM m
      UNION ALL
      SELECT 2, 'quality', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM q
      UNION ALL
      SELECT 3, 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM d
      UNION ALL
      SELECT 4, 'split_' || split, CAST(count(*) AS BIGINT),
             CAST(sum(n_tokens) AS BIGINT) FROM s GROUP BY split
    )
    SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage, n_docs, n_tokens
    FROM stages
    """,
    description="The LLM-data-pipeline FUNNEL as one composed query: "
    "raw corpus → C4/Gopher quality filter → exact dedup (keep-first "
    "by content fingerprint) → deterministic train/val/test split, "
    "reporting docs and tokens surviving each stage — the end-to-end "
    "composition of q_quality_filter + q_dedup_exact_docs + "
    "q_corpus_split semantics, every stage reusing the exact shared "
    "fragments those queries oracle-check individually. One metrics "
    "pass feeds all stages (tokenize once); the dedup keep-first is a "
    "fingerprint-keyed min; the funnel aggregates are unions of tiny "
    "per-stage rollups.",
)
def q_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        T.quality_metrics(F.col("text")).alias("_m"),
        T.fingerprint(F.col("text")).alias("fp"),
    ).select(
        "doc_id", "fp",
        F.col("_m")["n_tokens"].alias("n_tokens"),
        F.col("_m")["quality"].alias("quality"),
        F.col("_m")["rep_bigram"].alias("rep_bigram"),
    )
    q = m.where(
        (F.col("n_tokens") >= 25) & (F.col("rep_bigram") <= 0.10) & (F.col("quality") >= 0.42)
    )
    keeper = Window.partitionBy("fp")
    dd = q.withColumn("_min_id", F.min("doc_id").over(keeper)).where(
        F.col("doc_id") == F.col("_min_id")
    )
    h = F.substring("fp", 1, 2)
    s = dd.withColumn(
        "split",
        F.when(h < _SPLIT_TRAIN_HI, "train").when(h < _SPLIT_VAL_HI, "val").otherwise("test"),
    )

    def roll(df, idx, name_col):
        return df.groupBy(name_col.alias("stage")).agg(
            F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
        ).select(F.lit(idx).cast("int").alias("stage_idx"), "stage", "n_docs", "n_tokens")

    return (
        roll(m, 1, F.lit("raw"))
        .unionByName(roll(q, 2, F.lit("quality")))
        .unionByName(roll(dd, 3, F.lit("exact_dedup")))
        .unionByName(roll(s, 4, F.concat(F.lit("split_"), F.col("split"))))
    )


_PHRASE = ["table", "value"]


def _phrase_oracle() -> str:
    joins, prev = [], None
    for i in range(len(_PHRASE)):
        al = f"p{i}"
        joins.append(
            f"(SELECT doc_id, pos - {i} AS start FROM p WHERE tok = '{_PHRASE[i]}') {al}"
        )
    from_clause = joins[0]
    for i in range(1, len(_PHRASE)):
        from_clause += (
            f" JOIN {joins[i]} ON p0.doc_id = p{i}.doc_id AND p0.start = p{i}.start"
        )
    return f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    p AS (SELECT doc_id, unnest(toks) AS tok,
                 unnest(range(1, len(toks) + 1)) AS pos
          FROM t)
    SELECT p0.doc_id,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(p0.start) AS INTEGER) AS first_pos
    FROM {from_clause}
    GROUP BY p0.doc_id
    """


@query(
    "q_phrase_search",
    oracle=_phrase_oracle(),
    description="Positional-index phrase search (operators/ranking."
    "phrase_search): documents containing the exact token sequence "
    f"{' '.join(_PHRASE)!r} via posting-list intersection — per-term "
    "postings (the index) chained through pure equi-joins on "
    "(doc, pos−offset), co-partitioned on the doc key; cost bounded by "
    "the rarest term's posting list, never the corpus. The oracle runs "
    "the SAME positional algorithm in SQL (parallel unnest zip), "
    "generated from one phrase constant.",
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.ranking import phrase_search

    d = load_table(spark, sf_dir, "documents")
    return phrase_search(d, _PHRASE)


# --------------------------------------------------------------------------
# Generated REAL-BPE oracles (r9): greedy min-rank BPE is equivalent to
# applying the merge table IN RANK ORDER (merging pair r can only mint
# tokens whose later merges rank > r, so no lower-rank pair is ever
# created — the GPT-2 inference-order identity), and rank-order merging
# over one pre-token is exactly a chain of left-to-right non-overlapping
# string REPLACEs when the token state is rendered with full boundary
# anchoring. State encoding: each byte as 2 uppercase hex chars, tokens
# joined by '__', whole word wrapped in '_'; pattern for pair (a, b) is
# '_hexA__hexB_' -> '_hexAhexB_' (both tokens boundary-anchored; the
# shared '__' between adjacent pairs is re-split by the replacement's
# trailing '_', so chained same-pair merges stay left-to-right greedy —
# verified exhaustively vs encode() plus a 3000-case fuzz).  The oracle
# is GENERATED from default_merges() — the same embedded-seed-trained
# table the Spark UDF broadcasts — under the q_lpa/q_zorder generated-
# oracle doctrine: one constant, two engines, never two hand copies.
# Distinct pre-tokens are encoded ONCE (dw CTE) then joined back to
# per-doc instances — the duckdb mirror of the Spark side's per-row
# Arrow encode (duckdb has no vectorized-Python tier; dedup-then-join
# keeps the 384-replace chain off the per-instance path).
# --------------------------------------------------------------------------


def _bpe_count_ctes() -> str:
    """CTE chain: documents -> (doc_id, n real-BPE tokens) as ``bpe_n``."""
    from stream_processing_platform_spark.functions import bpe as _bpe

    merges = list(_bpe.default_merges())
    hx = lambda b: "".join(f"{c:02X}" for c in b)  # noqa: E731
    # 16 nested replaces per CTE bounds parser depth (384 merges -> 24)
    steps = []
    for g in range(0, len(merges), 16):
        e = "s"
        for a, b in merges[g : g + 16]:
            e = f"replace({e}, '_{hx(a)}__{hx(b)}_', '_{hx(a)}{hx(b)}_')"
        steps.append(e)
    ctes = [
        f"pt AS (SELECT doc_id, unnest(regexp_extract_all(text,"
        f" '{_bpe.PRETOK_RE.pattern}')) AS tok FROM documents)",
        "dw AS (SELECT DISTINCT tok FROM pt)",
        "m0 AS (SELECT tok, '_' || array_to_string("
        "regexp_extract_all(hex(encode(tok)), '..'), '__') || '_' AS s FROM dw)",
    ]
    for i, e in enumerate(steps):
        ctes.append(f"m{i + 1} AS (SELECT tok, {e} AS s FROM m{i})")
    ctes.append(
        f"wc AS (SELECT tok, (length(s) - length(replace(s, '_', ''))) // 2"
        f" AS n FROM m{len(steps)})"
    )
    # per-pre-token TOKEN BYTE LENGTHS, in order: the final state string
    # IS the token sequence (hex bytes, '__' separators) — q_doc_chunking_bpe
    # reconstructs chunk text from these via byte-offset prefix sums
    ctes.append(
        f"wl AS (SELECT tok, list_transform(string_split(trim(s, '_'), '__'),"
        f" t -> CAST(length(t) // 2 AS BIGINT)) AS lens FROM m{len(steps)})"
    )
    ctes.append(
        "bpe_n AS (SELECT d.doc_id,"
        " CAST(COALESCE(sum(wc.n), 0) AS BIGINT) AS n"
        " FROM documents d LEFT JOIN pt USING (doc_id)"
        " LEFT JOIN wc USING (tok) GROUP BY d.doc_id)"
    )
    return ",\n    ".join(ctes)


def _bpe_real_oracle() -> str:
    return f"""
    WITH {_bpe_count_ctes()}
    SELECT b.doc_id,
           CAST(b.n AS INTEGER) AS n_bpe_real,
           CAST(len(regexp_extract_all(d.text, '{T.BPE_RE}')) AS INTEGER)
               AS n_bpe_estimate,
           CAST(len(regexp_extract_all(d.text, '{T.BPE_RE}')) - b.n AS INTEGER)
               AS estimate_err
    FROM bpe_n b JOIN documents d USING (doc_id)
    """


def _sequence_packing_bpe_oracle() -> str:
    return f"""
    WITH {_bpe_count_ctes()},
    t AS (SELECT d.doc_id, d.source, b.n
          FROM documents d JOIN bpe_n b USING (doc_id)),
    w AS (SELECT source, doc_id, n,
                 COALESCE(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cum_before
          FROM t)
    SELECT source, CAST(floor(cum_before / {_PACK_BUDGET}.0) AS INTEGER) AS pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS pack_tokens
    FROM w GROUP BY source, pack_id
    """


_REG2["q_bpe_real"] = _dc_replace2(_REG2["q_bpe_real"], oracle=_bpe_real_oracle())
_REG2["q_sequence_packing_bpe"] = _dc_replace2(
    _REG2["q_sequence_packing_bpe"], oracle=_sequence_packing_bpe_oracle()
)


# --------------------------------------------------------------------------
# Gopher-style rule filter + DSIR-style importance weights (r9): the two
# most-cited public pretraining-curation methods not yet first-class
# here (Rae et al. 2021 "Scaling Language Models" Appendix A quality
# rules; Xie et al. 2023 "Data Selection for LMs via Importance
# Resampling"). Both restated in EXACT integer arithmetic so the duckdb
# oracles hash-match: rule thresholds compare scaled integers (never a
# float fraction), importance ratios are integer-scaled quotients under
# the q_rolling_slope div doctrine.
# --------------------------------------------------------------------------

_GOPHER_STOPWORDS = ("the", "a", "and", "of", "to")
_SQL_STOPS = "(" + ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS) + ")"


@query(
    "q_gopher_rules",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n,
                  CAST(length(tok) AS BIGINT) AS wlen
           FROM tok GROUP BY doc_id, tok),
    s AS (SELECT doc_id,
                 CAST(sum(n) AS BIGINT) AS n_words,
                 CAST(count(*) AS BIGINT) AS n_unique,
                 CAST(max(n) AS BIGINT) AS max_tf,
                 CAST(sum(wlen * n) AS BIGINT) AS n_chars,
                 CAST(sum(CASE WHEN tok IN {_SQL_STOPS} THEN n ELSE 0 END)
                      AS BIGINT) AS n_stop
          FROM tf GROUP BY doc_id)
    SELECT doc_id, n_words,
           n_words BETWEEN 30 AND 400 AS rule_word_count,
           3000 * n_words <= 1000 * n_chars
               AND 1000 * n_chars <= 10000 * n_words AS rule_mean_word_len,
           n_stop >= 2 AS rule_stopwords,
           max_tf * 5 <= n_words AS rule_max_word_share,
           n_unique * 2 >= n_words AS rule_unique_share,
           (n_words BETWEEN 30 AND 400)
               AND 3000 * n_words <= 1000 * n_chars
               AND 1000 * n_chars <= 10000 * n_words
               AND n_stop >= 2
               AND max_tf * 5 <= n_words
               AND n_unique * 2 >= n_words AS passed
    FROM s
    """,
    description="Gopher-style document quality rules (Rae et al. 2021 "
    "Appendix A, adapted to this corpus's register) in exact integer "
    "arithmetic: word-count bounds, mean word length via scaled cross-"
    "multiplication (3000·n <= 1000·chars <= 10000·n — never a float "
    "fraction), minimum stopword hits, max single-word share <= 20%, "
    "unique-word share >= 50%. Scale shape: two doc-keyed aggregates "
    "(per-(doc,word) tf, then per-doc stats), both partial-aggregated "
    "map-side; per-doc state bounded by document length, never corpus "
    "width.",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("n"))
    s = tf.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.count("*").alias("n_unique"),
        F.max("n").alias("max_tf"),
        F.sum(F.length("tok") * F.col("n")).alias("n_chars"),
        F.sum(
            F.when(F.col("tok").isin(*_GOPHER_STOPWORDS), F.col("n")).otherwise(F.lit(0))
        ).alias("n_stop"),
    )
    rule_wc = F.col("n_words").between(30, 400)
    rule_mwl = (3000 * F.col("n_words") <= 1000 * F.col("n_chars")) & (
        1000 * F.col("n_chars") <= 10000 * F.col("n_words")
    )
    rule_stop = F.col("n_stop") >= 2
    rule_share = F.col("max_tf") * 5 <= F.col("n_words")
    rule_uniq = F.col("n_unique") * 2 >= F.col("n_words")
    return s.select(
        "doc_id",
        "n_words",
        rule_wc.alias("rule_word_count"),
        rule_mwl.alias("rule_mean_word_len"),
        rule_stop.alias("rule_stopwords"),
        rule_share.alias("rule_max_word_share"),
        rule_uniq.alias("rule_unique_share"),
        (rule_wc & rule_mwl & rule_stop & rule_share & rule_uniq).alias("passed"),
    )


_DSIR_TARGET = ("src0", "src1", "src2", "src3")
_DSIR_SCALE = 1_000_000  # per-token likelihood-ratio precision
_DSIR_SHIFT_AT = 1 << 40  # counts past this get coarse-shifted first
_DSIR_SHIFT = 1 << 20  # ...by 2^20: relative error <= 2^-20, overflow-free
_SQL_DSIR_TGT = "(" + ", ".join(f"'{s}'" for s in _DSIR_TARGET) + ")"

# Overflow-safe integer likelihood ratio, IDENTICAL text on both engines
# modulo the div operator (duckdb `//`, Spark `div`): the naive
# (f_t*total_c*SCALE) div (f_c*total_t) overflows int64 once
# f_t*total_c > 2^63/SCALE — reached by any hot token in a ~10^12-token
# corpus, and ANSI mode turns that into a job failure at exactly the
# scale this engine targets. Instead: q = (f_t*SCALE) div f_c (safe:
# counts past 2^40 are pre-shifted by 2^20, a <=2^-20 relative error),
# T = the totals ratio at the same scale, ratio = q*T div SCALE.
# Every operation is exact integer -> deterministic cross-engine; the
# shift branch is data-dependent but identically data-dependent.


def _dsir_q_expr(div: str) -> str:
    s = f"(CASE WHEN f_c > {_DSIR_SHIFT_AT} THEN {_DSIR_SHIFT} ELSE 1 END)"
    return (
        f"(((f_t {div} {s}) * {_DSIR_SCALE}) {div} greatest(f_c {div} {s}, 1))"
    )


def _dsir_t_expr(div: str) -> str:
    s = f"(CASE WHEN total_c > {_DSIR_SHIFT_AT} THEN {_DSIR_SHIFT} ELSE 1 END)"
    return (
        f"(((total_c {div} {s}) * {_DSIR_SCALE}) {div} greatest(total_t {div} {s}, 1))"
    )


@query(
    "q_dsir_weights",
    oracle=f"""
    WITH tok AS (SELECT doc_id, source, unnest({_SQL_TOKENS}) AS tok
                 FROM documents),
    freq AS (SELECT tok,
                    CAST(1 + sum(CASE WHEN source IN {_SQL_DSIR_TGT}
                                      THEN 1 ELSE 0 END) AS BIGINT) AS f_t,
                    CAST(1 + count(*) AS BIGINT) AS f_c
             FROM tok GROUP BY tok),
    tot AS (SELECT CAST(sum(f_t) AS BIGINT) AS total_t,
                   CAST(sum(f_c) AS BIGINT) AS total_c
            FROM freq),
    r AS (SELECT tok,
                 ({_dsir_q_expr('//')} * {_dsir_t_expr('//')})
                     // {_DSIR_SCALE} AS ratio_scaled
          FROM freq CROSS JOIN tot)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(r.ratio_scaled) AS BIGINT) AS weight,
           CAST(sum(r.ratio_scaled) // count(*) AS BIGINT) AS avg_ratio
    FROM tok t JOIN r USING (tok)
    GROUP BY t.doc_id
    """,
    description=f"DSIR-style importance weights (Xie et al. 2023) for "
    f"selecting corpus documents toward a target distribution (sources "
    f"{_DSIR_TARGET}): per-token importance ratio = (f_target/total_t)"
    f" / (f_corpus/total_c), add-1 smoothed, restated in OVERFLOW-SAFE "
    f"exact integer arithmetic — q = (f_t*{_DSIR_SCALE}) div f_c and "
    f"the totals ratio computed separately, counts past 2^40 coarse-"
    f"shifted by 2^20 first (<=2^-20 relative error), then q*T div "
    f"SCALE — because the naive one-shot product overflows int64 for "
    f"any hot token in a 10^12-token corpus and ANSI mode makes that a "
    f"job failure. Both engines run the same expression text (duckdb "
    f"// vs Spark div — the q_rolling_slope doctrine), emitted from "
    f"one generator. Scale shape: one token-keyed frequency aggregate "
    f"(map-side partials), ratio table joined back token-keyed (same "
    f"skew profile as q_doc_commonness; AQE skew-join the mitigation), "
    f"one doc-keyed sum.",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.explode(T.tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(
        (
            1
            + F.sum(
                F.when(F.col("source").isin(*_DSIR_TARGET), F.lit(1)).otherwise(F.lit(0))
            )
        ).alias("f_t"),
        (1 + F.count("*")).alias("f_c"),
    )
    tot = freq.agg(
        F.sum("f_t").alias("total_t"), F.sum("f_c").alias("total_c")
    )
    r = freq.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.expr(
            f"({_dsir_q_expr('div')} * {_dsir_t_expr('div')}) div {_DSIR_SCALE}"
        ).alias("ratio_scaled"),
    )
    return (
        tok.join(r, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("ratio_scaled").alias("weight"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "weight",
            F.expr("weight div n_tokens").alias("avg_ratio"),
        )
    )


def _corpus_mixture_bpe_oracle() -> str:
    """GENERATED oracle (r9): q_corpus_mixture's admission SQL with the
    regex token estimate replaced by the real-BPE count CTE chain
    (_bpe_count_ctes) — now that greedy BPE has a SQL twin, the
    production mixture variant is hash-checkable too."""
    return f"""
    WITH {_bpe_count_ctes()},
    tgt(source, mix_target) AS (VALUES {_SQL_MIX_TGT}),
    t AS (SELECT d.doc_id, d.source, b.n, {_SQL_FP.replace('text', 'd.text')} AS h
          FROM documents d JOIN bpe_n b USING (doc_id)),
    w AS (SELECT t.source, t.n, tgt.mix_target,
                 COALESCE(sum(t.n) OVER (PARTITION BY t.source
                          ORDER BY t.h, t.doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cum_before
          FROM t JOIN tgt USING (source))
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS mix_tokens,
           CAST(max(mix_target) AS BIGINT) AS mix_target
    FROM w WHERE cum_before < mix_target GROUP BY source
    """


_REG2["q_corpus_mixture_bpe"] = _dc_replace2(
    _REG2["q_corpus_mixture_bpe"], oracle=_corpus_mixture_bpe_oracle()
)


def _doc_chunking_bpe_oracle() -> str:
    """GENERATED oracle (r9): chunk TEXT without decoding — byte-level
    BPE token byte-lengths come straight from the replace-chain state
    string (the ``wl`` CTE), pre-token instances flatten in order, and
    a per-doc prefix sum turns token boundaries into BYTE offsets into
    the original text (the pre-tokenizer PARTITIONS the string, so the
    token concatenation IS the text). ``chunk_text`` is then a plain
    substring; on this pure-ASCII corpus byte==char offsets and the
    decoder's UTF-8 edge trim is a no-op (the Spark side stays general;
    the oracle is data-specific like every oracle here)."""
    from stream_processing_platform_spark.functions.bpe import PRETOK_RE

    pretok = PRETOK_RE.pattern
    return f"""
    WITH {_bpe_count_ctes()},
    inst AS (SELECT doc_id, unnest(regexp_extract_all(text, '{pretok}')) AS tok,
                 unnest(range(len(regexp_extract_all(text, '{pretok}')))) AS pos
             FROM documents),
    flat AS (SELECT i.doc_id, i.pos, unnest(w.lens) AS l,
                    unnest(range(len(w.lens))) AS j
             FROM inst i JOIN wl w USING (tok)),
    ord_t AS (SELECT doc_id, l,
                     row_number() OVER (PARTITION BY doc_id ORDER BY pos, j) AS ti,
                     sum(l) OVER (PARTITION BY doc_id ORDER BY pos, j
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM flat),
    chunks AS (
      SELECT b.doc_id, CAST(unnest(range(
               CASE WHEN b.n <= {_CHUNK} THEN 1
                    ELSE CAST(ceil((b.n - {_CHUNK}) / {_STRIDE}.0) AS BIGINT) + 1
               END)) AS INTEGER) AS chunk_id, b.n
      FROM bpe_n b
    ),
    bounds AS (
      SELECT c.doc_id, c.chunk_id,
             CAST(least(CAST({_CHUNK} AS BIGINT),
                        c.n - c.chunk_id * {_STRIDE}) AS INTEGER)
                 AS n_chunk_tokens,
             COALESCE(s.cum, 0) AS b0,
             COALESCE(e.cum, 0) AS b1
      FROM chunks c
      LEFT JOIN ord_t s ON s.doc_id = c.doc_id
                       AND s.ti = c.chunk_id * {_STRIDE}
      LEFT JOIN ord_t e ON e.doc_id = c.doc_id
                       AND e.ti = least(c.chunk_id * {_STRIDE} + {_CHUNK}, c.n)
    )
    SELECT b.doc_id, b.chunk_id, b.n_chunk_tokens,
           substr(d.text, CAST(b.b0 + 1 AS INTEGER),
                  CAST(b.b1 - b.b0 AS INTEGER)) AS chunk_text
    FROM bounds b JOIN documents d USING (doc_id)
    """


_REG2["q_doc_chunking_bpe"] = _dc_replace2(
    _REG2["q_doc_chunking_bpe"], oracle=_doc_chunking_bpe_oracle()
)


@query(
    "q_bigram_logprob",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok,
                        unnest(range(len({_SQL_TOKENS}))) AS pos
                 FROM documents),
    bi AS (SELECT t1.doc_id, t1.tok AS a, t2.tok AS b
           FROM tok t1 JOIN tok t2
             ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1),
    c2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c2 FROM bi GROUP BY a, b),
    c1 AS (SELECT a, CAST(count(*) AS BIGINT) AS c1 FROM bi GROUP BY a),
    v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab FROM tok)
    SELECT bi.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(CAST(sum(CAST(floor((ln(c1.c1 + v.vocab) - ln(c2.c2 + 1))
                                     * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                 / (100.0 * count(*)) + 0.5) / 10000.0 AS mean_nll
    FROM bi JOIN c2 USING (a, b) JOIN c1 USING (a) CROSS JOIN v
    GROUP BY bi.doc_id
    """,
    description="Bigram language-model quality score — the next rung "
    "above q_unigram_logprob toward CCNet's 5-gram filter: per-document "
    "mean negative log-probability of each bigram under the corpus's "
    "own add-1-smoothed bigram LM, P(b|a) = (c2(a,b)+1)/(c1(a)+V). "
    "High mean_nll flags incoherent token ORDER (which the unigram "
    "score cannot see), low flags templated boilerplate. Counts are "
    "exact integers; ln() runs on bit-identical inputs, each per-bigram "
    "nll is floor-rounded to the 1e-6 integer grid BEFORE summing (r10, "
    "per the r9 advice — raw-double sums are order-dependent and JVM "
    "Math.log vs libm can differ in the last ulp; integer sums are "
    "exact and order-free, the additive-scores doctrine from the r9 "
    "ANN campaign; per-doc sums stay < 2^53 so the final double "
    "division is exact-input), and the 4dp mean uses floor(x+0.5). "
    "Scale shape: bigram-keyed count aggregate + joins back, all "
    "map-side partial-aggregated; 1-row vocab broadcast; stopword-pair "
    "keys are the documented skew (AQE skew-join). Documents with "
    "fewer than 2 tokens have no bigrams and drop in BOTH engines.",
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(T.tokens(F.col("text"))).alias("pos", "tok")
    )
    t2 = tok.select(
        F.col("doc_id"), (F.col("pos") - 1).alias("pos"), F.col("tok").alias("_b")
    )
    bi = tok.join(t2, ["doc_id", "pos"]).select(
        "doc_id", F.col("tok").alias("a"), F.col("_b").alias("b")
    )
    c2 = bi.groupBy("a", "b").agg(F.count("*").alias("c2"))
    c1 = bi.groupBy("a").agg(F.count("*").alias("c1"))
    v = tok.agg(F.countDistinct("tok").alias("vocab"))
    return (
        bi.join(c2, ["a", "b"])
        .join(c1, "a")
        .join(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.floor(
                    F.sum(
                        F.floor(
                            (F.ln(F.col("c1") + F.col("vocab")) - F.ln(F.col("c2") + 1))
                            * 1000000.0
                            + 0.5
                        ).cast("long")
                    ).cast("double")
                    / (100.0 * F.count("*"))
                    + 0.5
                )
                / 10000.0
            ).alias("mean_nll"),
        )
    )


# --------------------------------------------------------------------------
# Trained quality classifier (r10): fastText-style logistic regression
# over hashed bag-of-token features, trained by REPRODUCIBLE full-batch
# gradient descent (operators/classifier.py) on weak labels from a
# stopword-ratio heuristic — the CCNet/GPT-3 pipeline pattern (rule
# labels -> trained linear filter).  Both oracles replay the ENTIRE
# 15-iteration training trajectory as a generated CTE chain (the
# q_kmeans_embeddings doctrine applied to gradient descent).
# --------------------------------------------------------------------------

_CLF_DIM = 256
_CLF_ITERS = 15
_CLF_LR_NUM, _CLF_LR_DEN = 1, 20
_CLF_STOP_MULT = 16  # y = 1 iff 16*stopwords <= tokens (ratio <= 6.25%)
_CLF_STOPWORDS = ("the", "a")


def _clf_label_col() -> F.Column:
    toks = T.tokens(F.col("text"))
    stop = F.size(F.filter(toks, lambda t: t.isin(*_CLF_STOPWORDS)))
    return (F.lit(_CLF_STOP_MULT) * stop <= F.size(toks)).cast("int")


def _clf_train_and_feats(spark: SparkSession, sf_dir: str):
    """Shared train step: returns (feats, labels, model).  The feature
    frame is persisted across the 15 gradient aggregates and released
    before scoring (bounded: ~vocab-per-doc ints per doc)."""
    from stream_processing_platform_spark.operators import classifier as C

    d = load_table(spark, sf_dir, "documents")
    feats = C.doc_features(d, T.tokens(F.col("text")), _CLF_DIM)
    lbl = d.select("doc_id", _clf_label_col().alias("label"))
    train = (
        feats.where(F.col("doc_id") % 5 != 0).join(lbl, "doc_id").persist()
    )
    try:
        model = C.logreg_fit_reproducible(
            train, "label", _CLF_DIM, _CLF_ITERS, _CLF_LR_NUM, _CLF_LR_DEN
        )
    finally:
        train.unpersist()
    return feats, lbl, model


@query(
    "q_quality_classifier",
    oracle=None,  # generated below: full training-trajectory CTE replay
    description="Trained quality filter (fastText-style linear "
    "classifier, operators/classifier.py): hashed bag-of-token "
    "features (md5 bucket % 256), weak labels from the stopword-ratio "
    "rule (16*stop <= tokens), 15 reproducible full-batch GD "
    "iterations on the doc_id%5!=0 split, then every document scored. "
    "Exact-integer logits and gradients on the 1e-6 weight grid make "
    "the duckdb oracle replay the whole trajectory as a generated CTE "
    "chain — the q_kmeans_embeddings doctrine applied to gradient "
    "descent. Scale shape: feature build = one explode + one "
    "(doc,bucket)-keyed partial-agg shuffle + one doc-keyed combine; "
    "each iteration = one persisted-frame scan + a 257-key map-side "
    "combined aggregate; driver state is the 257-int weight vector "
    "(MLlib pattern). Train/holdout accuracy gated in "
    "tests/test_classifier.py.",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators import classifier as C

    feats, lbl, model = _clf_train_and_feats(spark, sf_dir)
    return (
        C.logreg_score(feats, model)
        .join(lbl, "doc_id")
        .select(
            "doc_id",
            "p_micro",
            "pred",
            F.col("label").cast("int").alias("label"),
        )
    )


@query(
    "q_quality_classifier_weights",
    oracle=None,  # generated below from the same CTE generator
    description="The trained weight vector itself (bucket -> 1e-6-grid "
    "micro-weight, bias at bucket 256) after the same 15-iteration "
    "reproducible GD run as q_quality_classifier — the model artifact "
    "a pipeline would persist and ship to the inference gate. "
    "Hash-MATCHing this row set means the two engines agree on every "
    "intermediate gradient of the whole training trajectory.",
)
def q_quality_classifier_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, model = _clf_train_and_feats(spark, sf_dir)
    rows = [(int(b), int(w)) for b, w in enumerate(model.weights)]
    return spark.createDataFrame(rows, "bucket BIGINT, w BIGINT")


def _clf_feat_label_ctes() -> tuple[str, str]:
    """The feat/lbl CTE pair shared by both classifier oracles —
    emitted from the same constants the Spark side trains with (one
    generator, every consumer)."""
    from stream_processing_platform_spark.operators.classifier import bucket_sql

    stop_list = ", ".join(f"'{s}'" for s in _CLF_STOPWORDS)
    feat = (
        f"tok AS MATERIALIZED (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents),\n"
        f"    bf AS MATERIALIZED (SELECT doc_id, {bucket_sql('tok', _CLF_DIM)} AS bucket,"
        f" CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY doc_id, bucket),\n"
        f"    feat AS MATERIALIZED (SELECT doc_id, bucket, cnt FROM bf UNION ALL"
        f" SELECT DISTINCT doc_id, CAST({_CLF_DIM} AS BIGINT) AS bucket,"
        f" CAST(1 AS BIGINT) AS cnt FROM bf)"
    )
    lbl = (
        f"lbl_all AS MATERIALIZED (SELECT doc_id, CASE WHEN {_CLF_STOP_MULT} *"
        f" len(list_filter(toks, t -> t IN ({stop_list}))) <= len(toks)"
        f" THEN 1 ELSE 0 END AS y FROM"
        f" (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents)"
        f" WHERE len(toks) > 0),\n"
        f"    lbl AS MATERIALIZED (SELECT doc_id, y FROM lbl_all WHERE doc_id % 5 <> 0)"
    )
    return feat, lbl


def _clf_oracle() -> str:
    from stream_processing_platform_spark.operators.classifier import (
        CLF_SCALE,
        training_ctes_sql,
    )

    feat, lbl = _clf_feat_label_ctes()
    ctes = training_ctes_sql(
        feat, lbl, _CLF_DIM, _CLF_ITERS, _CLF_LR_NUM, _CLF_LR_DEN
    )
    s = float(CLF_SCALE)
    ctes.append(
        f"zf AS MATERIALIZED (SELECT f.doc_id, sum(f.cnt * w.w) AS z_num"
        f" FROM feat f JOIN w{_CLF_ITERS} w USING (bucket)"
        f" GROUP BY f.doc_id)"
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT z.doc_id,
           CAST(floor({s} / (1.0 + exp(-(CAST(z.z_num AS DOUBLE) / {s})))
                + 0.5) AS BIGINT) AS p_micro,
           CAST(CASE WHEN z.z_num >= 0 THEN 1 ELSE 0 END AS INTEGER) AS pred,
           CAST(l.y AS INTEGER) AS label
    FROM zf z JOIN lbl_all l USING (doc_id)
    """
    )


def _clf_weights_oracle() -> str:
    from stream_processing_platform_spark.operators.classifier import (
        training_ctes_sql,
    )

    feat, lbl = _clf_feat_label_ctes()
    ctes = training_ctes_sql(
        feat, lbl, _CLF_DIM, _CLF_ITERS, _CLF_LR_NUM, _CLF_LR_DEN
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST(bucket AS BIGINT) AS bucket, CAST(w AS BIGINT) AS w
    FROM w{_CLF_ITERS}
    """
    )


_REG2["q_quality_classifier"] = _dc_replace2(
    _REG2["q_quality_classifier"], oracle=_clf_oracle()
)
_REG2["q_quality_classifier_weights"] = _dc_replace2(
    _REG2["q_quality_classifier_weights"], oracle=_clf_weights_oracle()
)


# --------------------------------------------------------------------------
# Trained language ID (r13): the upgrade path the r12 verdict named for
# q_lang_id's marker-lexicon argmax — weak-label with the marker
# heuristic, train a char-trigram linear model per language
# (one-vs-rest) with the reproducible integer-GD doctrine
# (operators/classifier.py), classify by exact-integer argmax. The
# script-mix prefilter (operators/unicode_scripts.py) is the routing
# stage in front of this model at deployment: non-Latin scripts map
# directly (cyrillic->ru-family, ...), Latin-script pages — where
# block-level classification can say nothing — go to THIS model; the
# fixture is therefore all Latin-script. Measured on the fixture:
# marker baseline ~88% (the ~12% no-marker docs fall to 'und'), trained
# ~98% at every SF — the trained model recovers the docs the lexicon
# cannot see, which is exactly the real-world gap (VERDICT r12 "What's
# wrong" #2).
# --------------------------------------------------------------------------

_LID_LANGS = ("en", "de", "fr", "es", "pt", "it", "nl")
# 12 words per language: 3 marker words (the weak labeler's lexicon)
# + 8 everyday content words + 'internet' shared by all (real
# cross-language collision noise). r14: pt/it/nl added — the
# Latin-script confusables the r13 verdict named (#4); every word is
# unique to its language except the deliberate 'internet' collision
# (asserted in tests/test_lang_id_trained.py).
_LID_WORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "house", "water", "light", "morning",
           "street", "people", "small", "data", "internet"),
    "de": ("der", "und", "die", "haus", "wasser", "licht", "morgen",
           "strasse", "leute", "klein", "daten", "internet"),
    "fr": ("le", "et", "les", "maison", "eau", "lumiere", "matin",
           "rue", "gens", "petit", "donnees", "internet"),
    "es": ("el", "y", "los", "casa", "agua", "luz", "manana",
           "calle", "gente", "pequeno", "datos", "internet"),
    "pt": ("o", "nao", "uma", "rio", "noite", "cidade", "tempo",
           "mundo", "trabalho", "grande", "dados", "internet"),
    "it": ("il", "di", "che", "mare", "giorno", "strada", "acqua",
           "paese", "persone", "piccolo", "dati", "internet"),
    "nl": ("de", "het", "een", "rivier", "avond", "straat", "mensen",
           "kleine", "gegevens", "ochtend", "stad", "internet"),
}
_LID_NW = 12
_LID_POS = 8  # words per synthetic document
_LID_DIM = 128
_LID_ITERS = 6
_LID_LR_NUM, _LID_LR_DEN = 1, 2
_LID_FLAT = tuple(w for lang in _LID_LANGS for w in _LID_WORDS[lang])


_LID_K = len(_LID_LANGS)


def _lid_synth_col() -> F.Column:
    """Synthetic multilingual sentence, a pure function of doc_id: the
    language is doc_id % 7 and word p (0..7) is list index
    ((doc_id div 7) + (p+1) * (doc_id % 10 + 1)) % 12 — start offset
    and stride both vary per doc, so marker coverage varies (and ~12%
    of docs carry none: the weak labeler's blind spot)."""
    # ONE parsed SQL expression, not per-element F.lit columns: the
    # Python-built form spliced an 84 x F.lit array literal into all 8
    # element_at positions through individual py4j calls — measured
    # ~8 s of pure DRIVER time per query construction (the hyperplane
    # array-literal lesson). Same ops, same values, one parse.
    # The f"'{w}'" splice has no escaping: a future lexicon word with an
    # apostrophe (l'eau) would silently corrupt the parse (r14 advice).
    assert all(w.isascii() and w.isalpha() for w in _LID_FLAT), (
        "_LID_FLAT words must be plain ASCII letters (the SQL-literal "
        "splice below does not escape quotes)"
    )
    flat = "array(" + ", ".join(f"'{w}'" for w in _LID_FLAT) + ")"
    parts = []
    for p in range(_LID_POS):
        widx = (
            f"(((doc_id div {_LID_K}) + {p + 1} * ((doc_id % 10) + 1))"
            f" % {_LID_NW})"
        )
        parts.append(
            f"element_at({flat}, CAST((doc_id % {_LID_K}) * {_LID_NW}"
            f" + {widx} + 1 AS INT))"
        )
    return F.expr("concat_ws(' ', " + ", ".join(parts) + ")")


def _lid_synth_sql() -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in _LID_FLAT) + "]"
    parts = []
    for p in range(_LID_POS):
        widx = (
            f"(((doc_id // {_LID_K}) + {p + 1} * ((doc_id % 10) + 1))"
            f" % {_LID_NW})"
        )
        parts.append(
            f"{arr}[CAST((doc_id % {_LID_K}) * {_LID_NW} + {widx} AS INT) + 1]"
        )
    return " || ' ' || ".join(parts)


def _lid_trigrams(col: F.Column) -> F.Column:
    """Char trigrams of the space-padded text — the classic langid
    feature. let() binds the padded string once so the per-element
    substr does not re-evaluate the concat (the shingling lesson)."""
    return T.let(
        F.concat(F.lit(" "), col, F.lit(" ")),
        lambda t: F.transform(
            F.sequence(F.lit(1), F.length(t) - 2),
            lambda i: t.substr(i, F.lit(3)),
        ),
    )


def _lid_train(spark: SparkSession, sf_dir: str):
    """Returns (scored_base, models): ONE feature frame (shared by the
    four one-vs-rest fits and the final scoring) and one
    integer-grid LogRegModel per language, trained on the
    marker-weak-labeled docs (lang_weak != 'und')."""
    from stream_processing_platform_spark.operators import classifier as C

    from stream_processing_platform_spark.partitioning import checkpointer

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _lid_synth_col().alias("synth")
    )
    weak = d.select(
        "doc_id",
        "synth",
        T.lang_id(F.col("synth"), langs=_LID_LANGS).alias("lang_weak"),
    )
    # Materialize the weak-label frame (3 narrow columns) before the
    # training lineage forks: without it, the `!= 'und'` filter pushdown
    # splices the WHOLE 84-split marker-argmax tree (with the synth tree
    # re-substituted into every split) below both projections — the
    # generated Java blew janino's limit, fell back to interpreted eval,
    # and every one of the 42 GD-step plans re-analyzed the giant tree
    # (measured ~20 s of the query's ~40 s construction at sf0.01).
    # Same lineage-truncation doctrine as the per-round graph
    # checkpoints; the weak labels are evaluated exactly once.
    weak = checkpointer(weak)(weak)
    feats = C.doc_features(weak, _lid_trigrams(F.col("synth")), _LID_DIM)
    base = feats.join(weak.select("doc_id", "lang_weak"), "doc_id")
    train = base.where(F.col("lang_weak") != "und").persist()
    try:
        models = C.logreg_fit_ovr_reproducible(
            train, "lang_weak", _LID_LANGS, _LID_DIM, _LID_ITERS,
            _LID_LR_NUM, _LID_LR_DEN,
        )
    finally:
        train.unpersist()
    return base, models


@query(
    "q_lang_id_trained",
    oracle=None,  # generated below: 4 training trajectories + argmax
    description="Trained language ID (r13; extended to the 7 Latin "
    "confusables en/de/fr/es/pt/it/nl in r14) — the model-based "
    "upgrade of q_lang_id's marker argmax: weak labels from the "
    "marker lexicon (no gold labels touched), one-vs-rest linear "
    "models over hashed char-trigram features (md5 bucket % 128), 6 "
    "reproducible integer-grid GD iterations per language "
    "(operators/classifier.py), prediction by exact-BIGINT logit "
    "argmax with position-in-tuple tie order. The script-mix "
    "prefilter routes non-Latin scripts before this model at "
    "deployment. Measured at sf0.01: marker baseline 87.6% (12.4% "
    "und), trained 100% on the 7-class fixture (accuracy gate in "
    "tests/test_lang_id_trained.py). Full generated "
    "oracle: the duckdb side replays all SEVEN training trajectories "
    "as suffix-namespaced CTE chains over one shared feature CTE and "
    "hash-MATCHes every prediction. Scale shape: one trigram explode "
    "+ one (doc,bucket) partial-agg shuffle builds the persisted "
    "feature frame; each of the 42 GD steps is one scan + a 129-key "
    "map-side-combined aggregate (all 7 class gradients fused into "
    "ONE job per iteration); driver state is 7x129 ints.",
)
def q_lang_id_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators import classifier as C

    base, models = _lid_train(spark, sf_dir)
    scored = base.select(
        "doc_id",
        "lang_weak",
        *[
            C._z_num(F.col("pairs"), list(models[c].weights)).alias(f"z_{c}")
            for c in _LID_LANGS
        ],
    )
    # argmax via greatest(struct) — earliest class wins ties (higher r);
    # the take-if-greater when-loop form duplicates subtrees ~3^k times
    # (see functions/text.lang_id — the r14 codegen-blowup lesson).
    k = len(_LID_LANGS)
    pred = F.greatest(
        *[
            F.struct(
                F.col(f"z_{c}").alias("z"),
                F.lit(k - i).alias("r"),
                F.lit(c).alias("lang"),
            )
            for i, c in enumerate(_LID_LANGS)
        ]
    )["lang"]
    return scored.select("doc_id", "lang_weak", pred.alias("lang_trained"))


def _lid_weak_ctes() -> list[str]:
    """The shared weak-labeler CTE chain (synth text -> marker scores
    -> argmax), used by BOTH the q_lang_id_trained oracle and the
    q_lang_mismatch oracle — one core, never re-implemented (the
    sequential-replay doctrine). The argmax CASE is generated for k
    classes: class i wins iff strictly greater than every EARLIER
    class and >= every LATER one — exactly the sequential
    take-if-strictly-greater loop in functions/text.lang_id (earlier
    position wins ties)."""

    def marker(ms: tuple[str, ...]) -> str:
        return " + ".join(
            f"(len(string_split(' ' || synth || ' ', ' {m} ')) - 1)"
            for m in ms
        )

    all_zero = " AND ".join(f"s_{c} = 0" for c in _LID_LANGS)
    wk_whens = [f"WHEN {all_zero} THEN 'und'"]
    for i, c in enumerate(_LID_LANGS[:-1]):
        conds = [f"s_{c} > s_{e}" for e in _LID_LANGS[:i]] + [
            f"s_{c} >= s_{l}" for l in _LID_LANGS[i + 1:]
        ]
        wk_whens.append(f"WHEN {' AND '.join(conds)} THEN '{c}'")
    wk_case = (
        "CASE " + " ".join(wk_whens) + f" ELSE '{_LID_LANGS[-1]}' END"
    )
    return [
        f"synth AS MATERIALIZED (SELECT doc_id, ({_lid_synth_sql()}) AS synth"
        f" FROM documents)",
        "sc AS MATERIALIZED (SELECT doc_id, "
        + ", ".join(
            f"{marker(T.LANG_MARKERS[c])} AS s_{c}" for c in _LID_LANGS
        )
        + " FROM synth)",
        f"wk AS MATERIALIZED (SELECT doc_id, {wk_case} AS lang_weak"
        f" FROM sc)",
    ]


def _lid_oracle() -> str:
    from stream_processing_platform_spark.operators.classifier import (
        bucket_sql,
        training_ctes_sql,
    )

    ctes = _lid_weak_ctes() + [
        "tri AS MATERIALIZED (SELECT doc_id,"
        " unnest(list_transform(range(1, length(t) - 1),"
        " i -> substr(t, CAST(i AS INT), 3))) AS g"
        " FROM (SELECT doc_id, (' ' || synth || ' ') AS t FROM synth))",
        f"bf AS MATERIALIZED (SELECT doc_id, {bucket_sql('g', _LID_DIM)} AS bucket,"
        f" CAST(count(*) AS BIGINT) AS cnt FROM tri GROUP BY doc_id, bucket)",
        f"feat AS MATERIALIZED (SELECT doc_id, bucket, cnt FROM bf UNION ALL"
        f" SELECT DISTINCT doc_id, CAST({_LID_DIM} AS BIGINT) AS bucket,"
        f" CAST(1 AS BIGINT) AS cnt FROM bf)",
    ]
    for c in _LID_LANGS:
        lbl = (
            f"lbl_{c} AS MATERIALIZED (SELECT doc_id,"
            f" CASE WHEN lang_weak = '{c}' THEN 1 ELSE 0 END AS y"
            f" FROM wk WHERE lang_weak <> 'und')"
        )
        ctes += training_ctes_sql(
            None, lbl, _LID_DIM, _LID_ITERS, _LID_LR_NUM, _LID_LR_DEN,
            suffix=f"_{c}",
        )
    for c in _LID_LANGS:
        ctes.append(
            f"zf_{c} AS MATERIALIZED (SELECT f.doc_id, sum(f.cnt * w.w) AS z"
            f" FROM feat f JOIN w_{c}{_LID_ITERS} w USING (bucket)"
            f" GROUP BY f.doc_id)"
        )
    joins = " ".join(
        f"JOIN zf_{c} ON zf_{c}.doc_id = wk.doc_id" for c in _LID_LANGS
    )
    # trained argmax CASE, generated for k classes, evaluated LAST
    # class first: class i is the answer iff its logit is strictly
    # greater than every EARLIER class's (the first index achieving
    # the max wins — same tie order as the Spark take-if-greater loop).
    arg_whens = []
    for i in range(len(_LID_LANGS) - 1, 0, -1):
        c = _LID_LANGS[i]
        conds = " AND ".join(
            f"zf_{c}.z > zf_{e}.z" for e in _LID_LANGS[:i]
        )
        arg_whens.append(f"WHEN {conds} THEN '{c}'")
    arg_case = (
        "CASE " + " ".join(arg_whens) + f" ELSE '{_LID_LANGS[0]}' END"
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT wk.doc_id, wk.lang_weak, {arg_case} AS lang_trained
    FROM wk {joins}
    """
    )


_REG2["q_lang_id_trained"] = _dc_replace2(
    _REG2["q_lang_id_trained"], oracle=_lid_oracle()
)


# --------------------------------------------------------------------------
# Content-Language vs detected-language mismatch (r14 — the r13
# verdict's ask #5): the declared HTTP Content-Language (parsed by
# functions/httpheaders.py in the capture stage; here the declared
# label is a plan-literal pure function of doc_id, covering region
# subtags, multi-valued lists, case, an unknown label, and an absent
# header) is reduced to its primary subtag and joined against the
# marker-tier language detection over the page text — a mislabeled
# page (declared != detected, both known) is a standing web-curation
# quality signal. Pure column algebra over two existing fragments
# (BCP-47 primary-subtag parse + the lang_id argmax): zero Python,
# zero shuffle, scan speed at 100 TB.
# --------------------------------------------------------------------------

# declared Content-Language per doc_id % 9: region subtags, a
# multi-valued list (first entry is primary, RFC 3282), uppercase, an
# unknown label ('zz' — declared but outside the detector's classes,
# still a mismatch when detection is confident), and '' = header absent.
_LM_DECLS: tuple[str, ...] = (
    "", "EN-US", "de", "fr, en", "es-419", "pt-BR", "it", "nl-NL", "zz",
)


def _lm_primary_col(decl: F.Column) -> F.Column:
    """BCP-47 primary subtag of the FIRST list entry: lowercase, split
    on ',', trim, split on '-'. '' stays '' (absent header)."""
    first = F.trim(F.element_at(F.split(F.lower(decl), ","), 1))
    return F.element_at(F.split(first, "-"), 1)


def _lm_primary_sql(decl_expr: str) -> str:
    first = f"trim(string_split(lower({decl_expr}), ',')[1])"
    return f"string_split({first}, '-')[1]"


@query(
    "q_lang_mismatch",
    oracle=None,  # generated below from the same class/marker tables
    description="Content-Language vs detected-language mismatch gate "
    "(r14): per page, the declared Content-Language header value "
    "(doc_id % 9 classes — region subtags, multi-valued lists, case, "
    "unknown label, absent header) is reduced to its BCP-47 primary "
    "subtag and compared with the 7-class marker-tier detection over "
    "the page text (the same weak labeler that feeds "
    "q_lang_id_trained); is_mismatch fires when both sides are "
    "confident and disagree — the classic mislabeled-page curation "
    "signal. Pure JVM column algebra (zero Python, zero shuffle). "
    "Full generated oracle sharing the weak-labeler CTE chain with "
    "q_lang_id_trained's.",
)
def q_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    df = d.select(
        "doc_id",
        _lid_synth_col().alias("synth"),
        F.element_at(
            F.array(*[F.lit(x) for x in _LM_DECLS]),
            (F.col("doc_id") % len(_LM_DECLS) + 1).cast("int"),
        ).alias("declared"),
    )
    out = df.select(
        "doc_id",
        "declared",
        _lm_primary_col(F.col("declared")).alias("declared_primary"),
        T.lang_id(F.col("synth"), langs=_LID_LANGS).alias("lang_detected"),
    )
    return out.select(
        "doc_id",
        "declared",
        "declared_primary",
        "lang_detected",
        (
            (F.col("declared_primary") != "")
            & (F.col("lang_detected") != "und")
            & (F.col("declared_primary") != F.col("lang_detected"))
        ).alias("is_mismatch"),
    )


def _lang_mismatch_oracle() -> str:
    arr = "[" + ", ".join(f"'{x}'" for x in _LM_DECLS) + "]"
    return (
        "WITH " + ",\n    ".join(_lid_weak_ctes()) + f""",
    decl AS (SELECT doc_id,
                    {arr}[CAST(doc_id % {len(_LM_DECLS)} AS INT) + 1]
                      AS declared
             FROM documents),
    pr AS (SELECT doc_id, declared,
                  {_lm_primary_sql("declared")} AS declared_primary
           FROM decl)
    SELECT wk.doc_id, pr.declared, pr.declared_primary,
           wk.lang_weak AS lang_detected,
           (pr.declared_primary <> '' AND wk.lang_weak <> 'und'
            AND pr.declared_primary <> wk.lang_weak) AS is_mismatch
    FROM wk JOIN pr ON wk.doc_id = pr.doc_id
    """
    )


_REG2["q_lang_mismatch"] = _dc_replace2(
    _REG2["q_lang_mismatch"], oracle=_lang_mismatch_oracle()
)


# --------------------------------------------------------------------------
# Weighted reservoir sampling (r10): Efraimidis-Spirakis A-ES with the
# deterministic exponential-race key — reproducible-sampling doctrine.
# --------------------------------------------------------------------------

_WSAMPLE_K = 100


@query(
    "q_weighted_sample",
    oracle=None,  # generated below from the same constants
    description="Weighted random sample without replacement "
    "(Efraimidis & Spirakis 2006 A-ES, operators/mixture.py:"
    "weighted_sample): k=100 documents drawn proportionally to "
    "n_chars — the length-weighted draw a training-mixture builder "
    "uses. Deterministic u from the overflow-safe Knuth id mix, the "
    "one transcendental (ln) floor-rounded to the 1e-9 grid BEFORE "
    "the rank, id tie-break — both engines pick the identical sample "
    "(the r9 ANN sampling recipe). Plan: pure row-map + global top-k "
    "= TakeOrderedAndProject (per-partition partials merged on the "
    "driver, never a full sort).",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.mixture import weighted_sample

    d = load_table(spark, sf_dir, "documents")
    return weighted_sample(d, id_col="doc_id", weight_col="n_chars", k=_WSAMPLE_K)


def _weighted_sample_oracle() -> str:
    from stream_processing_platform_spark.operators.mixture import weighted_sample_sql

    return weighted_sample_sql(
        "documents", id_col="doc_id", weight_col="n_chars", k=_WSAMPLE_K
    )


_REG2["q_weighted_sample"] = _dc_replace2(
    _REG2["q_weighted_sample"], oracle=_weighted_sample_oracle()
)


# --------------------------------------------------------------------------
# Unigram-LM tokenizer (r10): SentencePiece-style Viterbi segmentation
# with a corpus-induced vocab — operators/unigram_tokenizer.py.  The
# oracle replays BOTH phases: vocab induction (gram counts -> top-K ->
# integer-grid log-probs) and the per-document Viterbi DP as a WITH
# RECURSIVE chain (the q_holt recursion doctrine applied to dynamic
# programming).
# --------------------------------------------------------------------------

_UNIGRAM_TOPK = 500


@query(
    "q_unigram_tokenize",
    oracle=None,  # generated below from the same constants
    description="Unigram-LM subword tokenizer (Kudo 2018 inference; "
    "operators/unigram_tokenizer.py): vocab = all corpus 1-grams + "
    "top-500 of each 2/3/4-gram (count desc, gram asc) with 1e-6-grid "
    "log-prob scores; per document the max-likelihood segmentation via "
    "Viterbi DP — (score desc, tokens asc) tie order — emitting "
    "(score_micro, n_tokens). Scale shape: induction is gram-keyed "
    "map-side-combined counts + per-length top-K; the piece table is "
    "driver state (k-means-model pattern) and segmentation is ONE "
    "Arrow mapInPandas pass, zero shuffle/join. The oracle replays "
    "induction AND the DP (WITH RECURSIVE, 4-slot sliding window of "
    "best states).",
)
def q_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators import unigram_tokenizer as U

    d = load_table(spark, sf_dir, "documents")
    vocab = U.induce_vocab(d, "text", top_k=_UNIGRAM_TOPK)
    return U.segment(d, vocab)


def _unigram_tokenize_oracle() -> str:
    from stream_processing_platform_spark.operators import unigram_tokenizer as U

    return f"""
    WITH RECURSIVE {U.vocab_ctes_sql(_UNIGRAM_TOPK)},
    dtxt AS MATERIALIZED (SELECT doc_id, lower(text) AS txt,
        CAST(length(text) AS INTEGER) AS len
        FROM documents WHERE length(text) > 0),
    {U.viterbi_cte_sql()}
    SELECT doc_id, CAST(s0 AS BIGINT) AS score_micro,
           CAST(-t0 AS BIGINT) AS n_tokens
    FROM dp WHERE pos = len
    """


_REG2["q_unigram_tokenize"] = _dc_replace2(
    _REG2["q_unigram_tokenize"], oracle=_unigram_tokenize_oracle()
)


@query(
    "q_quality_classifier_eval",
    oracle=None,  # generated below from the shared training CTE chain
    description="Model evaluation for the trained quality gate: exact "
    "confusion-matrix counts (tp/fp/fn/tn) per split (train vs the "
    "doc_id%5==0 holdout) — the eval-before-deploy step of the "
    "classifier pipeline, all-BIGINT so the oracle needs no rounding "
    "at all. Third consumer of the one shared training-trajectory CTE "
    "generator (q_quality_classifier, q_stream_quality_gate, this).",
)
def q_quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators import classifier as C

    feats, lbl, model = _clf_train_and_feats(spark, sf_dir)
    scored = C.logreg_score(feats, model).join(lbl, "doc_id")
    return (
        scored.groupBy(
            (F.col("doc_id") % 5 == 0).cast("int").alias("holdout")
        )
        .agg(
            F.sum(((F.col("pred") == 1) & (F.col("label") == 1)).cast("long")).alias("tp"),
            F.sum(((F.col("pred") == 1) & (F.col("label") == 0)).cast("long")).alias("fp"),
            F.sum(((F.col("pred") == 0) & (F.col("label") == 1)).cast("long")).alias("fn"),
            F.sum(((F.col("pred") == 0) & (F.col("label") == 0)).cast("long")).alias("tn"),
        )
    )


def _clf_eval_oracle() -> str:
    from stream_processing_platform_spark.operators.classifier import (
        training_ctes_sql,
    )

    feat, lbl = _clf_feat_label_ctes()
    ctes = training_ctes_sql(
        feat, lbl, _CLF_DIM, _CLF_ITERS, _CLF_LR_NUM, _CLF_LR_DEN
    )
    ctes.append(
        f"zf AS MATERIALIZED (SELECT f.doc_id, sum(f.cnt * w.w) AS z_num"
        f" FROM feat f JOIN w{_CLF_ITERS} w USING (bucket)"
        f" GROUP BY f.doc_id)"
    )
    return (
        "WITH " + ",\n    ".join(ctes) + """
    SELECT CAST(CASE WHEN z.doc_id % 5 = 0 THEN 1 ELSE 0 END AS INTEGER)
               AS holdout,
           CAST(sum(CASE WHEN z.z_num >= 0 AND l.y = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
           CAST(sum(CASE WHEN z.z_num >= 0 AND l.y = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS fp,
           CAST(sum(CASE WHEN z.z_num < 0 AND l.y = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS fn,
           CAST(sum(CASE WHEN z.z_num < 0 AND l.y = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS tn
    FROM zf z JOIN lbl_all l USING (doc_id)
    GROUP BY holdout
    """
    )


_REG2["q_quality_classifier_eval"] = _dc_replace2(
    _REG2["q_quality_classifier_eval"], oracle=_clf_eval_oracle()
)


def _kn_score_ctes() -> str:
    """CTE chain ending at ``kn(doc_id, n_bigrams, mean_nll)`` — the
    interpolated Kneser-Ney per-doc score, shared by the KN score
    query and the perplexity-band pruner (one generator, every
    consumer)."""
    return f"""tok AS MATERIALIZED (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok,
                        unnest(range(len({_SQL_TOKENS}))) AS pos
                 FROM documents),
    bi AS MATERIALIZED (SELECT t1.doc_id, t1.tok AS a, t2.tok AS b
           FROM tok t1 JOIN tok t2
             ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1),
    c2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c2 FROM bi GROUP BY a, b),
    ca AS (SELECT a, CAST(count(*) AS BIGINT) AS c1,
                  CAST(count(DISTINCT b) AS BIGINT) AS n1a
           FROM bi GROUP BY a),
    cb AS (SELECT b, CAST(count(DISTINCT a) AS BIGINT) AS n1b
           FROM bi GROUP BY b),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM c2),
    kn AS MATERIALIZED (SELECT bi.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           floor(CAST(sum(CAST(floor(-ln(
                     CAST(4 * c2.c2 - 3 AS DOUBLE) / CAST(4 * ca.c1 AS DOUBLE)
                     + (CAST(3 * ca.n1a AS DOUBLE) / CAST(4 * ca.c1 AS DOUBLE))
                       * (CAST(cb.n1b AS DOUBLE) / CAST(nn.nn AS DOUBLE)))
                                     * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                 / (100.0 * count(*)) + 0.5) / 10000.0 AS mean_nll
    FROM bi JOIN c2 USING (a, b) JOIN ca USING (a) JOIN cb USING (b)
         CROSS JOIN nn
    GROUP BY bi.doc_id)"""


@query(
    "q_kneser_ney_logprob",
    oracle=None,  # generated below from _kn_score_ctes
    description="Interpolated Kneser-Ney bigram LM score (the canonical "
    "LM smoothing — Kneser & Ney 1995; the rung above q_bigram_logprob's "
    "add-1): P(b|a) = max(c(a,b)-d, 0)/c(a) + d*N1+(a,.)/c(a) * "
    "P_cont(b), with P_cont the continuation probability "
    "N1+(.,b)/N1+(.,.) and d=0.75 exactly representable so max(c-d,0) "
    "= (4c-3)/4 in exact integers. Every P is a fixed IEEE expression "
    "over exact integer counts (two divisions, one multiply, one add — "
    "identical order both engines), each per-bigram nll floor-rounded "
    "to the 1e-6 grid BEFORE the order-free integer sum (the additive-"
    "scores doctrine), staged 4dp mean. Scale shape identical to "
    "q_bigram_logprob: bigram-keyed partial aggregates + joins back, "
    "1-row broadcast for the bigram-type total.",
)
def q_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(T.tokens(F.col("text"))).alias("pos", "tok")
    )
    t2 = tok.select(
        F.col("doc_id"), (F.col("pos") - 1).alias("pos"), F.col("tok").alias("_b")
    )
    bi = tok.join(t2, ["doc_id", "pos"]).select(
        "doc_id", F.col("tok").alias("a"), F.col("_b").alias("b")
    )
    c2 = bi.groupBy("a", "b").agg(F.count("*").alias("c2"))
    ca = bi.groupBy("a").agg(
        F.count("*").alias("c1"), F.countDistinct("b").alias("n1a")
    )
    cb = bi.groupBy("b").agg(F.countDistinct("a").alias("n1b"))
    nn = c2.agg(F.count("*").alias("nn"))
    p = (4 * F.col("c2") - 3).cast("double") / (4 * F.col("c1")).cast("double") + (
        (3 * F.col("n1a")).cast("double") / (4 * F.col("c1")).cast("double")
    ) * (F.col("n1b").cast("double") / F.col("nn").cast("double"))
    nll = F.floor(-F.ln(p) * 1000000.0 + 0.5).cast("long")
    return (
        bi.join(c2, ["a", "b"])
        .join(ca, "a")
        .join(cb, "b")
        .join(F.broadcast(nn))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                F.floor(
                    F.sum(nll).cast("double") / (100.0 * F.count("*")) + 0.5
                )
                / 10000.0
            ).alias("mean_nll"),
        )
    )


_REG2["q_kneser_ney_logprob"] = _dc_replace2(
    _REG2["q_kneser_ney_logprob"],
    oracle=f"""
    WITH {_kn_score_ctes()}
    SELECT doc_id, n_bigrams, mean_nll FROM kn
    """,
)


_PPL_BAND = {"q25": 0.25, "q75": 0.75}


@query(
    "q_ppl_band_prune",
    oracle=None,  # generated below: KN CTEs + rank-select bounds
    description="Perplexity-band corpus pruning (the DCLM-style "
    "selection step): keep documents whose Kneser-Ney mean NLL lies in "
    "the exact [q25, q75] corpus band — dropping both the too-easy "
    "boilerplate tail and the too-perplexed noise tail. Bounds come "
    "from operators/percentiles.exact_percentiles_distributed over the "
    "4dp scores (scaled-integer order statistics, so the band compare "
    "is pure BIGINT), broadcast back as a 1-row filter. Scale shape: "
    "the KN scoring shuffles; the band pass adds ONE sort-free "
    "aggregate pipeline + a broadcast filter — never a global rank "
    "over the corpus.",
)
def q_ppl_band_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.percentiles import (
        exact_percentiles_distributed,
    )

    scores = q_kneser_ney_logprob(spark, sf_dir)
    # histogram=True (r15): the band group is the WHOLE corpus, so the
    # default row-rank form would run a global row_number sort in ONE
    # task — exactly the "never a global rank over the corpus" claim
    # this query makes. The 4dp NLL grid saturates as the corpus grows,
    # so the cumulative window runs over distinct scores only
    # (value-identical; measured flat at sf0.1).
    bounds = exact_percentiles_distributed(
        scores.select(F.lit(1).alias("grp"), "mean_nll"),
        "mean_nll",
        _PPL_BAND,
        ["grp"],
        scale_decimals=4,
        histogram=True,
    ).select("q25", "q75")
    scaled = F.floor(F.col("mean_nll") * 10000.0 + 0.5).cast("long")
    return (
        scores.withColumn("_c", scaled)
        .join(F.broadcast(bounds))
        .where(F.col("_c").between(F.col("q25"), F.col("q75")))
        .select("doc_id", "n_bigrams", "mean_nll")
    )


def _ppl_band_oracle() -> str:
    from stream_processing_platform_spark.queries.relational import (
        _rank_select_ctes,
    )

    rank = _rank_select_ctes(
        "grp", "SELECT 1 AS grp, c FROM scaled", _PPL_BAND
    )
    return f"""
    WITH {_kn_score_ctes()},
    scaled AS MATERIALIZED (SELECT doc_id, n_bigrams, mean_nll,
        CAST(floor(mean_nll * 10000.0 + 0.5) AS BIGINT) AS c FROM kn),
    {rank}
    SELECT s.doc_id, s.n_bigrams, s.mean_nll
    FROM scaled s CROSS JOIN g
    WHERE s.c BETWEEN g.q25 AND g.q75
    """


_REG2["q_ppl_band_prune"] = _dc_replace2(
    _REG2["q_ppl_band_prune"], oracle=_ppl_band_oracle()
)


# ------------------------------------------- block-level boilerplate (r11)
#
# Page chrome with REALISTIC boilerplate structure: nav bar, heading, an
# ad unit, the document text split across two <p> blocks, a link-heavy
# aside and a footer — so q_boilerplate_blocks proves the block
# classifier keeps exactly the content paragraphs and drops every
# chrome block (a whole-page strip, q_html_extract, keeps their text).
# No single quotes, no pilcrow (the block sentinel) in any constant.

_BP_PRE = (
    "<html><head><script>var a = 1 < 2;</script><style>.m {}</style>"
    "</head><body><nav><a href=x>Home</a> <a href=y>About</a> "
    "<a href=z>Contact</a></nav><h1>Doc "
)
_BP_MID1 = (
    "</h1><div class=ad><a href=b>Buy now before the countdown timer "
    "expires</a></div><p>"
)
_BP_MID2 = "</p><aside><a href=m>more</a> links</aside><p>"
_BP_POST = (
    "</p><footer>Copyright 2026 <a href=t>Terms</a> "
    "<a href=p>Privacy</a></footer></body></html>"
)


def _bp_raw_col() -> F.Column:
    half = F.expr("length(text) div 2")
    left = F.col("text").substr(F.lit(1), half)
    right = F.col("text").substr(half + 1, F.length("text"))
    return F.concat(
        F.lit(_BP_PRE), F.col("source"), F.lit(_BP_MID1), left,
        F.lit(_BP_MID2), right, F.lit(_BP_POST),
    )


def _bp_raw_sql() -> str:
    return (
        f"('{_BP_PRE}' || source || '{_BP_MID1}' "
        f"|| substr(text, 1, length(text) // 2) || '{_BP_MID2}' "
        f"|| substr(text, length(text) // 2 + 1) || '{_BP_POST}')"
    )


def _boilerplate_oracle() -> str:
    from stream_processing_platform_spark.functions.html import boilerplate_blocks_sql

    e = boilerplate_blocks_sql(_bp_raw_sql())
    return f"""
    SELECT doc_id, {e["content"]} AS content,
           {e["n_blocks"]} AS n_blocks, {e["n_kept"]} AS n_kept
    FROM documents
    """


@query(
    "q_boilerplate_blocks",
    oracle=None,  # generated below from the same tag/threshold tables
    description="Block-level boilerplate removal (r11, jusText/"
    "trafilatura-lite): pages segment into blocks at block-tag "
    "boundaries, each block scores visible-text length and link "
    "density, and only content-like blocks survive — which is what "
    "actually drops nav bars, ad units, asides and footers (the whole-"
    "page strip of q_html_extract keeps their text). Fixture wraps "
    "every document in chrome with all four boilerplate classes and "
    "the payload split across two paragraphs; pytest pins that the "
    "extracted content is exactly the document text and every chrome "
    "block is gone. Since r12 the default path is an Arrow mapInPandas "
    "twin of the expression form (the HOF lambdas interpret the strip "
    "chain up to 3x per block — measured 2.5x slower at sf0.1; the "
    "winnow doctrine), pinned EXACTLY row-identical to the expression "
    "form by pytest (string/integer outputs, no float allowance); "
    "impl='expr' is the one-switch fallback. duckdb twin stays "
    "generated from the expression tables. Scale shape: per-row map, "
    "no shuffle.",
)
def q_boilerplate_blocks(
    spark: SparkSession, sf_dir: str, impl: str = "arrow"
) -> DataFrame:
    from stream_processing_platform_spark.functions.html import (
        boilerplate_blocks,
        boilerplate_blocks_pandas,
    )

    d = load_table(spark, sf_dir, "documents")
    if impl == "arrow":
        return boilerplate_blocks_pandas(d, _bp_raw_col())
    cols = boilerplate_blocks(_bp_raw_col())
    return d.select(
        "doc_id",
        cols["content"].alias("content"),
        cols["n_blocks"].alias("n_blocks"),
        cols["n_kept"].alias("n_kept"),
    )


_REG2["q_boilerplate_blocks"] = _dc_replace2(
    _REG2["q_boilerplate_blocks"], oracle=_boilerplate_oracle()
)


_TEMP_MIX_BUDGET = 24_000


@query(
    "q_mixture_temperature",
    oracle=f"""
    WITH t AS (SELECT doc_id, source,
                      CAST(len({_SQL_TOKENS}) AS BIGINT) AS n,
                      {_SQL_FP} AS h
               FROM documents),
    c AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_s FROM t GROUP BY source),
    w AS (SELECT source,
                 CAST(floor(sqrt(n_s) * 1000) AS BIGINT) AS weight_milli
          FROM c),
    tot AS (SELECT CAST(sum(weight_milli) AS BIGINT) AS total_w FROM w),
    r AS (SELECT source, weight_milli,
                 weight_milli * ({_TEMP_MIX_BUDGET} // total_w)
                 + (weight_milli * ({_TEMP_MIX_BUDGET} % total_w)) // total_w
                   AS mix_target
          FROM w CROSS JOIN tot),
    adm AS (SELECT t.source, t.n, r.mix_target, r.weight_milli,
                   COALESCE(sum(t.n) OVER (PARTITION BY t.source
                            ORDER BY t.h, t.doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                            0) AS cum_before
            FROM t JOIN r USING (source))
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS mix_tokens,
           CAST(max(mix_target) AS BIGINT) AS mix_target,
           CAST(max(weight_milli) AS BIGINT) AS weight_milli
    FROM adm WHERE cum_before < mix_target GROUP BY source
    """,
    description="Temperature-scaled corpus mixture (r11, the XLM-R/mT5 "
    "alpha-sampling rule): source weights come from the corpus itself "
    "as n_s^0.5 instead of a hand recipe, upweighting tail sources — "
    "the standard fix for head-domination in multi-domain training "
    "sets. Alpha is 0.5 because sqrt is IEEE exact-rounded on every "
    "engine (pow is not), so floor(sqrt(n_s)*1000) is a bit-identical "
    "BIGINT weight; targets use staged integer division (q_dsir rule). "
    "Scale shape: one source-keyed count aggregate, a |sources|-row "
    "weight table broadcast back, one admission window — no collect, "
    "no global sort.",
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators import mixture

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        T.token_count(F.col("text")).cast("long").alias("n"),
        T.fingerprint(F.col("text")).alias("h"),
    )
    kept = mixture.temperature_mixture(t, _TEMP_MIX_BUDGET, "n", hash_col="h")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("mix_tokens"),
        F.max("mix_target").alias("mix_target"),
        F.max("weight_milli").alias("weight_milli"),
    )


# word-filter blocklist (C4-style). Mixed hit classes on the synthetic
# corpus: one high-frequency vocabulary word plus absent terms, so the
# query exercises both outcomes.
_BADWORDS = ("deadlock", "slow", "stale")
_BADWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in _BADWORDS) + "]"


@query(
    "q_badwords_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {_SQL_TOKENS} AS toks FROM documents),
    m AS (SELECT doc_id, source,
                 list_sort(list_intersect(toks, {_BADWORDS_SQL})) AS hits
          FROM t)
    SELECT doc_id, source,
           (len(hits) > 0) AS blocked,
           COALESCE(hits[1], '') AS first_match
    FROM m
    """,
    description="Bad-words blocklist filter (r11) — the C4 cleaning "
    "rule: a document is dropped when any token appears in a word "
    "blocklist. Token-set intersection against the broadcast-literal "
    "list (arrays ride into the expression with the plan — JVM array "
    "ops inside whole-stage codegen, no UDF, no join, no shuffle: at "
    "100 TB this is a scan-speed map). Emits the per-doc verdict and "
    "the lexicographically first matched word ('' sentinel when clean, "
    "the no-nullable-columns invariant).",
)
def q_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    hits = F.array_intersect(toks, F.array(*[F.lit(w) for w in _BADWORDS]))
    return d.select(
        "doc_id",
        "source",
        (F.size(hits) > 0).alias("blocked"),
        F.coalesce(F.array_min(hits), F.lit("")).alias("first_match"),
    )


_CHUNK_SENT_TARGET = 12  # tokens per chunk (prefix-sum boundary rule)


@query(
    "q_chunk_sentences",
    oracle=f"""
    WITH prose AS (
      SELECT doc_id,
             substr(text, 1, 40) || '. ' || substr(text, 41, 60) || '! '
               || 'Source ' || source || '?  ' || substr(text, 101, 80) || '.'
               AS prose
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             generate_subscripts(parts, 1) AS sent_idx,
             trim(unnest(parts)) AS sentence
      FROM (SELECT doc_id,
                   string_split_regex(prose, '[.!?]+\\s+') AS parts
            FROM prose)
    ),
    t AS (
      SELECT doc_id, sent_idx, sentence,
             CAST(len(list_filter(string_split_regex(lower(sentence), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM s WHERE sentence <> ''
    ),
    c AS (
      SELECT doc_id, sent_idx, sentence, n_tokens,
             COALESCE(sum(n_tokens) OVER (PARTITION BY doc_id
                      ORDER BY sent_idx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_CHUNK_SENT_TARGET} AS chunk_id
      FROM t
    )
    SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
           string_agg(sentence, ' ' ORDER BY sent_idx) AS chunk_text,
           CAST(count(*) AS INTEGER) AS n_sentences,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM c GROUP BY doc_id, chunk_id
    """,
    description=f"Sentence-boundary-aware chunking (r11): the context-"
    f"window splitter RAG/packing pipelines actually want — sentences "
    f"never split mid-way. Boundary rule is the scalable closed form: "
    f"chunk_id = prefix_tokens_before div {_CHUNK_SENT_TARGET}, one "
    f"window prefix sum per doc instead of a sequential greedy fold "
    f"(chunks may overshoot by at most one sentence — the standard "
    f"trade for a shuffle-free-beyond-the-window plan). Chunk text "
    f"reassembles order-preserving on both engines (sorted-struct "
    f"array join vs string_agg ORDER BY).",
)
def q_chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40), F.lit(". "),
            F.substring("text", 41, 60), F.lit("! "),
            F.lit("Source "), F.col("source"), F.lit("?  "),
            F.substring("text", 101, 80), F.lit("."),
        ).alias("prose"),
    )
    parts = F.split(F.col("prose"), r"[.!?]+\s+")
    s = (
        d.select("doc_id", F.posexplode(parts).alias("pos", "raw"))
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("int").alias("sent_idx"),
            F.trim(F.col("raw")).alias("sentence"),
        )
        .where(F.col("sentence") != "")
        .withColumn("n_tokens", F.size(T.tokens(F.col("sentence"))).cast("long"))
    )
    c = s.withColumn(
        "chunk_id",
        F.expr(
            f"coalesce(sum(n_tokens) over (partition by doc_id order by sent_idx "
            f"rows between unbounded preceding and 1 preceding), 0) "
            f"div {_CHUNK_SENT_TARGET}"
        ).cast("int"),
    )
    return c.groupBy("doc_id", "chunk_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sent_idx", "sentence"))),
                lambda x: x["sentence"],
            ),
            " ",
        ).alias("chunk_text"),
        F.count("*").cast("int").alias("n_sentences"),
        F.sum("n_tokens").alias("n_tokens"),
    )


# ------------------------------------------------ Unicode NFC (r12)
#
# Canonical normalization is the step every dedup/fingerprint key needs
# BEFORE hashing: "café" spelled with U+00E9 and with e+U+0301 must
# hash identically. Spark has no built-in normalizer, so the operator
# is an Arrow mapInPandas over Python's unicodedata (UAX #15); the
# oracle is duckdb's INDEPENDENT nfc_normalize (utf8proc) — a true
# cross-engine check of two separate NFC implementations, stronger
# than the generated-oracle pattern. The fixture prepends a snippet
# cycling through the canonical-equivalence classes: combining marks
# that compose, singleton compositions (U+212B ANGSTROM, U+2126 OHM),
# already-composed text, and NFC-invariant compatibility characters
# (the fi ligature changes only under NFKC).

_NFC_SNIPPETS = (
    "éclair",          # combining acute -> U+00E9
    "Ångström",  # combining ring + diaeresis -> Å ... ö
    "Ångstrom unit",    # ANGSTROM SIGN singleton -> U+00C5
    "café noir",        # already composed: unchanged
    "ﬁnance report",    # fi ligature: NFC-invariant
    "piña colada",     # combining tilde -> ñ
    "plain ascii only",      # unchanged
    "Ωhm resistance",   # OHM SIGN singleton -> U+03A9
)


@query(
    "q_unicode_nfc",
    oracle=None,  # patched below (shared snippet table; INDEPENDENT NFC impls)
    description="Unicode NFC canonical normalization (r12) — the "
    "pre-hashing step of every dedup/fingerprint key: combining "
    "sequences compose (e+U+0301 -> é), singletons map (U+212B -> Å, "
    "U+2126 -> Ω), compatibility characters stay (fi ligature is "
    "NFKC-only). Arrow mapInPandas over Python unicodedata; the duckdb "
    "oracle runs its OWN nfc_normalize (utf8proc) — two independent "
    "UAX #15 implementations hash-compared, not a generated twin. "
    "Scan-speed 1-in-1-out map, zero shuffle.",
)
def q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    raw = F.concat(
        F.element_at(
            F.array(*[F.lit(s) for s in _NFC_SNIPPETS]),
            (F.col("doc_id") % len(_NFC_SNIPPETS) + 1).cast("int"),
        ),
        F.lit(" "),
        F.col("text"),
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", raw.alias("_raw"))
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("nfc", StringType(), False),
            StructField("raw_cp", LongType(), False),
            StructField("nfc_cp", LongType(), False),
            StructField("changed", BooleanType(), False),
        ]
    )

    def run(batches):
        import unicodedata

        for pdf in batches:
            nfc = [unicodedata.normalize("NFC", s) for s in pdf["_raw"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "nfc": nfc,
                    "raw_cp": [len(s) for s in pdf["_raw"]],
                    "nfc_cp": [len(s) for s in nfc],
                    "changed": [a != b for a, b in zip(pdf["_raw"], nfc)],
                }
            )

    return d.mapInPandas(run, schema)


def _unicode_nfc_oracle() -> str:
    snips = ", ".join(
        f"({i}, '{s}')" for i, s in enumerate(_NFC_SNIPPETS)
    )
    return f"""
    WITH snip(idx, s) AS (VALUES {snips}),
    u AS (SELECT doc_id, (s || ' ' || text) AS raw
          FROM documents JOIN snip ON doc_id % {len(_NFC_SNIPPETS)} = idx)
    SELECT doc_id, nfc_normalize(raw) AS nfc,
           CAST(length(raw) AS BIGINT) AS raw_cp,
           CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_cp,
           (nfc_normalize(raw) <> raw) AS changed
    FROM u
    """


_REG2["q_unicode_nfc"] = _dc_replace2(
    _REG2["q_unicode_nfc"], oracle=_unicode_nfc_oracle()
)


# -------------------------------------------- Unicode script mix (r12)
#
# The langid PREFILTER of web curation (operators/unicode_scripts.py):
# pages bucket by dominant script before any per-language model runs,
# and mixed-script pages are a spam/encoding-error signal. Fixture:
# each doc prepends a snippet cycling through ten scripts (plus an
# empty latin-control class) ahead of a short ASCII tail, so dominance,
# counts and the mixed-script path are all exercised; the oracle
# re-counts with duckdb's OWN unicode() per char over the SAME range
# table and replays the same first-max CASE.

_SCRIPT_SNIPPETS = (
    "",                                  # latin control (ASCII tail wins)
    "Привет мир русский текст тут",      # cyrillic
    "Ελληνικά κείμενο εδώ τώρα",         # greek
    "مرحبا بالعالم النص العربي هنا",     # arabic
    "שלום עולם טקסט עברית כאן",          # hebrew
    "नमस्ते दुनिया हिंदी पाठ यहाँ",      # devanagari
    "สวัสดีชาวโลกข้อความไทยที่นี่",       # thai
    "안녕하세요 세계 한국어 텍스트 문서 내용",  # hangul
    "こんにちはせかいのテキストぶんしょ",       # kana
    "你好世界中文文本在这里的文档内容样本",     # cjk
    # --- r13 legs, one per appended SCRIPT_RANGES row ---
    "Բարեւ աշխարհ հայերեն տեքստ",        # armenian
    "გამარჯობა მსოფლიო ქართული ტექსტი",  # georgian
    "হ্যালো বিশ্ব বাংলা পাঠ্য",          # bengali
    "ਸਤ ਸ੍ਰੀ ਅਕਾਲ ਦੁਨਿਆ ਪੰਜਾਬੀ",          # gurmukhi
    "નમસ્તે દુનિયા ગુજરાતી લખાણ",        # gujarati
    "ନମସ୍କାର ଦୁନିଆ ଓଡ଼ିଆ ପାଠ୍ୟ",          # oriya
    "வணக்கம் உலகம் தமிழ் உரை",           # tamil
    "హలో ప్రపంచం తెలుగు వచనం",           # telugu
    "ನಮಸ್ಕಾರ ಜಗತ್ತು ಕನ್ನಡ ಪಠ್ಯ",          # kannada
    "നമസ്കാരം ലോകം മലയാളം വാചകം",        # malayalam
    "ආයුබෝවන් ලෝකය සිංහල පෙළ",           # sinhala
    "ສະບາຍດີ ໂລກ ຂໍ້ຄວາມລາວ",             # lao
    "ሰላም ለዓለም አማርኛ ጽሑፍ",                # ethiopic
    "မင်္ဂလာပါ ကမ္ဘာ မြန်မာစာ",            # myanmar
    "សួស្តី ពិភពលោក អត្ថបទខ្មែរ",          # khmer
)


def _script_mix_raw_col() -> F.Column:
    return F.concat(
        F.element_at(
            F.array(*[F.lit(s) for s in _SCRIPT_SNIPPETS]),
            (F.col("doc_id") % len(_SCRIPT_SNIPPETS) + 1).cast("int"),
        ),
        F.lit(" "),
        F.substring(F.col("text"), 1, 12),
    )


def _script_mix_oracle() -> str:
    from stream_processing_platform_spark.operators.unicode_scripts import (
        SCRIPT_NAMES,
        dominant_script_sql,
        script_counts_sql,
    )

    snips = ", ".join(f"({i}, '{s}')" for i, s in enumerate(_SCRIPT_SNIPPETS))
    counts = script_counts_sql("raw")
    proj = ", ".join(f"{sql} AS {col}" for col, sql in counts.items())
    cols = ", ".join(f"n_{n}" for n in SCRIPT_NAMES)
    return f"""
    WITH snip(idx, s) AS (VALUES {snips}),
    u AS (SELECT doc_id, (s || ' ' || substr(text, 1, 12)) AS raw
          FROM documents JOIN snip ON doc_id % {len(_SCRIPT_SNIPPETS)} = idx),
    c AS (SELECT doc_id, {proj} FROM u)
    SELECT doc_id, {cols},
           {dominant_script_sql()} AS dominant_script,
           CAST({" + ".join(f"(n_{n} > 0)::INT" for n in SCRIPT_NAMES)} AS BIGINT)
             AS n_scripts
    FROM c
    """


@query(
    "q_script_mix",
    oracle=None,  # patched below (shared range/snippet tables)
    description="Unicode script-mix detection (r12, operators/"
    "unicode_scripts.py) — the langid prefilter of web curation: "
    "per-document codepoint counts across ten major scripts (primary-"
    "block table; the full UCD Scripts.txt drops into the same range "
    "table, the PSL doctrine), dominant script with deterministic "
    "first-max tie-break, and script diversity (the mixed-script spam "
    "signal). Spark side is fully vectorized numpy — utf-32 view, one "
    "searchsorted per doc, no per-char Python — in one Arrow "
    "mapInPandas, zero shuffle. Oracle counts with duckdb's OWN "
    "unicode() per char over the same range table and replays the "
    "same CASE chain.",
)
def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stream_processing_platform_spark.operators.unicode_scripts import script_mix

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _script_mix_raw_col().alias("raw")
    )
    return script_mix(d, "raw")


_REG2["q_script_mix"] = _dc_replace2(
    _REG2["q_script_mix"], oracle=_script_mix_oracle()
)
