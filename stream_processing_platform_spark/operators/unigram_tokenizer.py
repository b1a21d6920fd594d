"""Unigram-LM subword tokenizer (SentencePiece-style Viterbi inference).

The second of the two canonical LLM tokenizer families (BPE lives in
``functions/bpe.py``): a vocabulary of scored pieces, and per-document
segmentation that MAXIMIZES the total piece log-probability via Viterbi
dynamic programming (Kudo 2018, "Subword Regularization", inference
path).  The reference engine has no tokenizer surface at all; this is
LLM-pipeline extension surface beside the real-BPE family.

Vocabulary induction (frequency-seeded, deterministic): all corpus
1-grams (guaranteeing every position is reachable) plus the top-K
2/3/4-grams ranked (count desc, gram asc); piece score is the
integer-grid log-probability ``floor((ln(cnt) - ln(total)) * 1e6 +
0.5)`` with ``total`` the summed count of the selected vocab.  Counts
are exact cross-engine integers; the one transcendental is quantized
to the 1e-6 grid at vocab-build time, so BOTH engines carry an
identical integer score table into the DP — every DP value downstream
is exact BIGINT arithmetic (order-free sums of micro-scores).

Viterbi ties: candidates compare as (score desc, n_tokens asc) —
lexicographic max over (s, -t) pairs.  Paths that tie on BOTH leave
the emitted (score, n_tokens) identical, so the output is
deterministic without needing path-level tie-breaks.

Scale shape: vocab induction is one gram explode + one gram-keyed
map-side-combined count + per-length top-K (TakeOrdered-style, never a
global vocabulary sort); the piece table (1 + 3K rows) is DRIVER state
(the k-means-model pattern) and rides into segmentation as a plain
Python dict inside ONE Arrow ``mapInPandas`` pass — per doc the DP is
O(len * max_piece_len) with zero shuffle and zero join.  The duckdb
oracle replays the DP as a WITH RECURSIVE chain advancing one char per
iteration, carrying best[pos-3..pos] as a 4-slot sliding window (the
q_holt coupled-state recursion doctrine applied to dynamic
programming).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_PIECE_LEN = 4
SCORE_SCALE = 1_000_000


@dataclass(frozen=True)
class UnigramVocab:
    """piece -> integer micro log-prob; bounded driver state."""

    scores: dict[str, int]


def induce_vocab(docs: DataFrame, text_col: str = "text", top_k: int = 500) -> UnigramVocab:
    """Frequency-seeded vocab: ALL 1-grams + top_k of each length 2..4
    (count desc, gram asc), scores on the 1e-6 log-prob grid.

    ONE corpus scan: every length's grams explode from the same row
    (tagged by length) into one (length, gram)-keyed map-side-combined
    count, then a per-length rank keeps all 1-grams + the top-K of each
    longer length (WindowGroupLimit pushes the rank's partial top-K
    map-side — the gated top-k-per-group pattern).  Four separate
    per-length jobs would scan the corpus four times — at 100 TB the
    scan IS the cost."""
    txt = F.lower(F.col(text_col))

    def _grams_of(ln: int):
        # factory closure: a `lambda i, ln=ln:` default arg would make
        # PySpark pick the 2-arg (element, index) HOF form and bind ln
        # to the array INDEX (the verify-skill gotcha)
        return F.when(
            F.length(txt) >= ln,
            F.transform(
                F.sequence(F.lit(1), F.length(txt) - ln + 1),
                lambda i: txt.substr(i, F.lit(ln)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = docs.where(F.length(txt) >= 1).select(
        F.explode(
            F.flatten(F.array(*[_grams_of(ln) for ln in range(1, MAX_PIECE_LEN + 1)]))
        ).alias("gram")
    )
    counts = grams.groupBy(F.length("gram").alias("glen"), F.col("gram")).agg(
        F.count("*").alias("cnt")
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("glen").orderBy(F.col("cnt").desc(), F.col("gram").asc())
    )
    # 1-grams pass through unranked; ONLY the longer lengths go through
    # the rank, and their filter is a pure rn <= k so Catalyst plans
    # WindowGroupLimit (per-partition partial top-k before the sort) —
    # a combined (glen==1 OR rn<=k) disjunction defeats that pushdown
    # and full-sorts the whole corpus vocabulary.
    singles = counts.where(F.col("glen") == 1)
    ranked = (
        counts.where(F.col("glen") > 1)
        .withColumn("_rn", rn)
        .where(F.col("_rn") <= top_k)
        .drop("_rn")
    )
    # Driver-state bound (same analysis convention as classifier.py's
    # int64 note): this collect is |distinct 1-grams| + (max_len-1)*top_k
    # rows. 1-grams are charset-bounded — ~100 for ASCII corpora, ~1e4
    # for mixed European scripts, worst-case ~1e5 for full CJK+emoji
    # (Unicode has ~1.1e5 assigned codepoints) — times ~40 bytes/row ≈
    # 4 MB driver memory at the absolute ceiling; top_k is a constant
    # (default 2000) per gram length. If a corpus ever pushes past the
    # codepoint ceiling (it can't — codepoints ARE the 1-grams), the
    # fix is ranking 1-grams through the same per-length top-K branch.
    part = singles.unionByName(ranked).select("gram", "cnt").collect()
    rows = [(r["gram"], int(r["cnt"])) for r in part]
    total = sum(c for _, c in rows)
    scores = {
        g: math.floor((math.log(c) - math.log(total)) * SCORE_SCALE + 0.5)
        for g, c in rows
    }
    return UnigramVocab(scores=scores)


def viterbi_segment_py(text: str, scores: dict[str, int]) -> tuple[int, int]:
    """(best_score_micro, n_tokens) of the max-likelihood segmentation.
    Shared by the Spark mapInPandas path and the pytest reference —
    factor the core out, never re-implement it (CLAUDE.md)."""
    n = len(text)
    # best[i] = (score, -ntok) for prefix of length i, None if unreachable
    best: list[tuple[int, int] | None] = [None] * (n + 1)
    best[0] = (0, 0)
    for i in range(1, n + 1):
        cand = None
        for j in range(1, min(MAX_PIECE_LEN, i) + 1):
            prev = best[i - j]
            if prev is None:
                continue
            sc = scores.get(text[i - j : i])
            if sc is None:
                continue
            c = (prev[0] + sc, prev[1] - 1)  # maximize (score, -ntok)
            if cand is None or c > cand:
                cand = c
        best[i] = cand
    end = best[n]
    if end is None:
        raise ValueError("unreachable segmentation (vocab lacks a character)")
    return end[0], -end[1]


def segment(docs: DataFrame, vocab: UnigramVocab, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """(doc_id, score_micro, n_tokens) per non-empty document — one
    Arrow mapInPandas pass, vocab dict in the closure (driver state),
    no shuffle, no join.  mapInPandas, not a pandas_udf projection
    (Catalyst collapses UDF projections into downstream operators where
    PythonUDF extraction fails — CLAUDE.md)."""
    import pandas as pd  # noqa: F401

    scores = dict(vocab.scores)
    id_name, text_name = id_col, text_col

    def run(batches):
        for pdf in batches:
            ids, sc, nt = [], [], []
            for did, txt in zip(pdf[id_name], pdf[text_name]):
                t = str(txt).lower()
                if not t:
                    continue
                s, k = viterbi_segment_py(t, scores)
                ids.append(did)
                sc.append(s)
                nt.append(k)
            import pandas as pd

            yield pd.DataFrame(
                {"doc_id": ids, "score_micro": sc, "n_tokens": nt}
            )

    from stream_processing_platform_spark.partitioning import ensure_min_parallelism

    src = ensure_min_parallelism(
        docs.where(F.length(F.col(text_col)) > 0).select(
            F.col(id_col), F.col(text_col)
        )
    )
    return src.mapInPandas(
        run, "doc_id BIGINT, score_micro BIGINT, n_tokens BIGINT"
    )


# ---------------------------------------------------------------------------
# duckdb oracle generators (shared by every consumer query).
# ---------------------------------------------------------------------------


def vocab_ctes_sql(top_k: int = 500) -> str:
    """pieces(gram, sc): the identical vocab + integer scores in SQL."""
    per_len = []
    for length in range(1, MAX_PIECE_LEN + 1):
        base = (
            f"(SELECT substr(txt, CAST(i AS INTEGER), {length}) AS gram"
            f" FROM txts, unnest(range(1, length(txt) - {length} + 2)) AS u(i))"
        )
        if length == 1:
            per_len.append(
                f"v{length} AS MATERIALIZED (SELECT gram, CAST(count(*) AS BIGINT)"
                f" AS cnt FROM {base} GROUP BY gram)"
            )
        else:
            per_len.append(
                f"v{length} AS MATERIALIZED (SELECT gram, cnt FROM"
                f" (SELECT gram, CAST(count(*) AS BIGINT) AS cnt,"
                f" row_number() OVER (ORDER BY count(*) DESC, gram ASC) AS rn"
                f" FROM {base} GROUP BY gram) WHERE rn <= {top_k})"
            )
    union = " UNION ALL ".join(
        f"SELECT gram, cnt FROM v{k}" for k in range(1, MAX_PIECE_LEN + 1)
    )
    return (
        "txts AS MATERIALIZED (SELECT lower(text) AS txt FROM documents"
        " WHERE length(text) > 0),\n    "
        + ",\n    ".join(per_len)
        + f",\n    vocab AS MATERIALIZED ({union}),\n"
        f"    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM vocab),\n"
        f"    pieces AS MATERIALIZED (SELECT gram,"
        f" CAST(floor((ln(CAST(cnt AS DOUBLE)) - ln(CAST(t.tot AS DOUBLE)))"
        f" * {SCORE_SCALE}.0 + 0.5) AS BIGINT) AS sc"
        f" FROM vocab CROSS JOIN tot t)"
    )


def viterbi_cte_sql() -> str:
    """dp(doc_id, len, pos, s0, t0, s1, t1, s2, t2, s3, t3): WITH
    RECURSIVE Viterbi advancing one character per iteration over
    dtxt(doc_id, txt, len); s{j}/t{j} = best[pos-j].  Candidates are
    {s, nt} structs (nt = -tokens) so duckdb's lexicographic struct max
    picks (score desc, tokens asc) — the same tie order as the Python
    core."""
    cands = []
    for j in range(1, MAX_PIECE_LEN + 1):
        cands.append(
            f"CASE WHEN d.pos + 1 >= {j} AND d.s{j - 1} IS NOT NULL"
            f" AND p{j}.sc IS NOT NULL THEN"
            f" {{'s': d.s{j - 1} + p{j}.sc, 'nt': d.t{j - 1} - 1}} END"
        )
        # piece of length j ending at pos+1 starts at pos+2-j (1-based)
    joins = "".join(
        f" LEFT JOIN pieces p{j} ON p{j}.gram ="
        f" substr(x.txt, d.pos + 2 - {j}, {j})"
        for j in range(1, MAX_PIECE_LEN + 1)
    )
    best = f"list_max(list_filter([{', '.join(cands)}], c -> c IS NOT NULL))"
    return f"""dp AS (
      SELECT doc_id, len, 0 AS pos,
             CAST(0 AS BIGINT) AS s0, CAST(0 AS BIGINT) AS t0,
             CAST(NULL AS BIGINT) AS s1, CAST(NULL AS BIGINT) AS t1,
             CAST(NULL AS BIGINT) AS s2, CAST(NULL AS BIGINT) AS t2,
             CAST(NULL AS BIGINT) AS s3, CAST(NULL AS BIGINT) AS t3
      FROM dtxt
      UNION ALL
      SELECT d.doc_id, d.len, d.pos + 1,
             ({best}).s, ({best}).nt,
             d.s0, d.t0, d.s1, d.t1, d.s2, d.t2
      FROM dp d JOIN dtxt x USING (doc_id){joins}
      WHERE d.pos < d.len
    )"""
