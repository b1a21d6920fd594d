"""Quality-pipeline text functions that the synthetic corpus can't
exercise (it contains no PII and no n<2 degenerate docs): redaction and
repetition edge cases run on injected rows here; the corpus-level
behavior is covered by the registered queries' duckdb oracles."""

from __future__ import annotations

import pyspark.sql.functions as F

from stream_processing_platform_spark.functions import text as T


def _docs(spark, rows):
    return spark.createDataFrame([(i, t) for i, t in enumerate(rows)], ["doc_id", "text"])


def test_redact_pii_masks_emails_and_phones(spark):
    df = _docs(
        spark,
        [
            "contact alice@example.com or bob.smith+tag@sub.domain.org now",
            "call +1 (555) 123-4567 or 020 7946 0958 today",
            "mixed: carol@test.io then 555-867-5309 done",
            "clean text with no identifiers at all",
        ],
    ).select("doc_id", T.redact_pii(F.col("text")).alias("red"))
    out = {r["doc_id"]: r["red"] for r in df.collect()}
    assert out[0] == "contact [EMAIL] or [EMAIL] now"
    assert out[1] == "call [PHONE] or [PHONE] today"
    assert out[2] == "mixed: [EMAIL] then [PHONE] done"
    assert out[3] == "clean text with no identifiers at all"


def test_pii_counts_email_digits_not_double_counted(spark):
    n_email, n_phone = T.pii_counts(F.col("text"))
    df = _docs(spark, ["x12345678@mail99.example.com but also 555-867-5309"]).select(
        n_email.alias("e"), n_phone.alias("p")
    )
    row = df.collect()[0]
    # the digits inside the email must not re-match as a phone
    assert (row["e"], row["p"]) == (1, 1)


def test_contamination_pairs_planted_overlap(spark):
    """A corpus doc sharing a verbatim passage with a benchmark doc must
    surface with high containment; an unrelated doc must not."""
    from stream_processing_platform_spark.operators.dedup import contamination_pairs

    passage = "the quick brown fox jumps over the lazy dog near the river bank"
    bench = spark.createDataFrame([(100, passage)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (1, passage + " with a short extra tail appended"),  # contaminated
            (2, "completely different words about spark partitions and shuffles"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in
           contamination_pairs(corpus, bench, "doc_id", "text", threshold=0.2).collect()}
    assert set(got) == {1}
    assert got[1].bench_id == 100
    # doc 1: 19 tokens -> 17 shingles, the passage's 11 are all shared
    assert got[1].n_shared == 11
    assert abs(got[1].containment - 11 / 17) < 1e-5


def test_incremental_dedup_drops_known_and_batch_dups(spark):
    from stream_processing_platform_spark.operators.dedup import incremental_dedup

    existing = spark.createDataFrame([("fpA",), ("fpB",)], "fp string")
    incoming = spark.createDataFrame(
        [(10, "fpA"), (11, "fpC"), (12, "fpC"), (13, "fpD")], "doc_id long, fp string"
    )
    got = sorted(
        (r.doc_id, r.fp)
        for r in incremental_dedup(incoming, existing, "fp", "doc_id").collect()
    )
    # fpA already known -> dropped; fpC keeps the batch-first row only
    assert got == [(11, "fpC"), (13, "fpD")]


def test_doc_chunking_covers_every_token(spark, sf_dir):
    """Chunking invariants on the real corpus: stride coverage leaves no
    token gap (non-first chunks re-cover the previous chunk's tail),
    stitching the non-overlapping spans reproduces the document, and the
    final chunk is never empty."""
    from stream_processing_platform_spark.queries.text import _CHUNK, _STRIDE, q_doc_chunking
    from stream_processing_platform_spark.functions.text import tokens
    from stream_processing_platform_spark.tables import load_table
    import pyspark.sql.functions as F

    rows = q_doc_chunking(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.toks
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens(F.col("text")).alias("toks"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        toks = docs[doc_id]
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        assert all(c.n_chunk_tokens > 0 for c in chunks)
        # stitch: chunk 0 whole, then each chunk's non-overlap tail
        stitched = chunks[0].chunk_text.split(" ") if chunks[0].chunk_text else []
        for c in chunks[1:]:
            stitched.extend(c.chunk_text.split(" ")[_CHUNK - _STRIDE:])
        assert stitched == toks, doc_id


def test_repetition_ratio_edge_cases(spark):
    df = _docs(
        spark,
        [
            "one",  # shorter than n: ratio 0
            "a b a b a b a b",  # bigrams: 7 total, 2 distinct
            "all words here are fully distinct tokens",  # no repeats
        ],
    ).select(
        "doc_id",
        T.ngram_repetition_ratio(F.col("text"), 2).alias("rep2"),
    )
    out = {r["doc_id"]: r["rep2"] for r in df.collect()}
    assert out[0] == 0.0
    assert abs(out[1] - (1 - 2 / 7)) < 1e-6
    assert out[2] == 0.0


def test_quality_metrics_struct_matches_standalone_functions(spark, sf_dir):
    """quality_metrics fuses three formulas into one let-bound struct;
    it must stay value-identical to the standalone functions it fuses
    (q_quality_filter's oracle depends on it)."""
    from stream_processing_platform_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").limit(200)
    fused = d.select(
        "doc_id",
        T.quality_metrics(F.col("text")).alias("m"),
        T.token_count(F.col("text")).cast("int").alias("n_ref"),
        T.quality_score(F.col("text")).alias("q_ref"),
        T.ngram_repetition_ratio(F.col("text"), 2).alias("r_ref"),
    )
    bad = fused.where(
        (F.col("m")["n_tokens"] != F.col("n_ref"))
        | (F.col("m")["quality"] != F.col("q_ref"))
        | (F.col("m")["rep_bigram"] != F.col("r_ref"))
    ).count()
    assert bad == 0


def test_winnow_fingerprints_detect_shared_run(spark):
    """Winnowing's reason to exist: two documents sharing a long run
    share fingerprints even when everything around it differs (and
    whole-document md5 differs); unrelated docs share ~none. Guarantee
    from the algorithm: any shared substring of length >= k + w - 1
    contributes at least one common window-minimum."""
    from stream_processing_platform_spark.functions.text import (
        fingerprint,
        winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, "PREFIX AAA " + shared + " SUFFIX BBB"),
        (2, "totally different lead-in. " + shared + " and another tail."),
        (3, "no overlap here at all; completely unrelated content xyzzy."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id",
        winnow_fingerprints(F.col("text")).alias("fps"),
        fingerprint(F.col("text")).alias("whole"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    f1, f2, f3 = (set(by_id[i].fps) for i in (1, 2, 3))
    assert by_id[1].whole != by_id[2].whole  # exact fingerprint blind to this
    assert len(f1 & f2) >= 5  # winnowing sees the shared run
    assert not (f1 & f3) and not (f2 & f3)  # no false overlap
    # dedup within each doc's print set
    assert all(len(by_id[i].fps) == len(set(by_id[i].fps)) for i in (1, 2, 3))


def test_winnow_oracle_parity_on_short_docs(spark, tmp_path):
    """Cross-engine boundary case the sf corpora never exercise: docs
    with normalized length < K + W - 1 (17 chars). Spark mins over a
    CLIPPED slice of the gram-hash array; an unclamped SQL window would
    hash partial tail grams past the last full k-gram and diverge on
    ~half of short docs. Pins the oracle's inner-position clamp by
    running the REGISTERED oracles of both winnow queries against a
    corpus of every length 0..24 plus edge shapes."""
    import duckdb

    from stream_processing_platform_spark.registry import REGISTRY, queries
    from tests.conftest import assert_matches_oracle

    queries()
    alpha = "abcdefghijklmnopqrstuvwxyz 0123456789 the quick brown fox"
    rows = [(i, "synthetic", alpha[:i]) for i in range(25)]  # lengths 0..24
    rows += [
        (100, "synthetic", "a" * 16),          # repeated char, len K+W-2
        (101, "synthetic", "ab" * 8),          # len 16, periodic
        (102, "synthetic", "  spaced   out  "),  # normalizes to 10 chars
        (103, "synthetic", alpha),             # one long doc for contrast
        (104, "synthetic", alpha[:17]),        # exactly K+W-1
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sf_dir = str(tmp_path / "shortsf")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "shortsf" / "documents.parquet"))

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
        )
        for name in ("q_winnow_fingerprints", "q_winnow_dup_pairs"):
            rq = REGISTRY[name]
            assert_matches_oracle(rq.fn(spark, sf_dir), con, rq.oracle)
    finally:
        con.close()


def test_winnow_arrow_path_equals_declarative_expr(spark, sf_dir):
    """The Arrow/numpy winnow path and the all-JVM HOF expression are
    two implementations of the same polynomial-hash winnowing; they
    must produce identical print SETS per document (the declarative
    twin is the reference semantics the duckdb oracle mirrors)."""
    from stream_processing_platform_spark.functions.text import winnow_fingerprints
    from tests.twin_refs import winnow_fingerprints_expr

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    both = d.select(
        "doc_id",
        F.array_sort(winnow_fingerprints(F.col("text"))).alias("arrow"),
        F.array_sort(winnow_fingerprints_expr(F.col("text"))).alias("expr"),
    )
    assert both.where(F.col("arrow") != F.col("expr")).count() == 0
    # and on adversarial short strings
    short = spark.createDataFrame(
        [(i, "abcdefghijklmnopq"[:i]) for i in range(18)], "doc_id long, text string"
    )
    sb = short.select(
        F.array_sort(winnow_fingerprints(F.col("text"))).alias("arrow"),
        F.array_sort(winnow_fingerprints_expr(F.col("text"))).alias("expr"),
    )
    assert sb.where(F.col("arrow") != F.col("expr")).count() == 0


def test_gram_hashes_arrow_equals_expr(spark, sf_dir):
    """gram_hashes (Arrow, position-ordered — substring-span dedup's
    input) must equal its declarative HOF twin element-for-element,
    including clipped short docs and empties."""
    from stream_processing_platform_spark.functions.text import gram_hashes
    from tests.twin_refs import gram_hashes_expr

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    both = d.select(
        gram_hashes(F.col("text"), 25).alias("arrow"),
        gram_hashes_expr(F.col("text"), 25).alias("expr"),
    )
    assert both.where(F.col("arrow") != F.col("expr")).count() == 0
    short = spark.createDataFrame(
        [(i, "abcdefghij klmnopq uvwxyz"[:i]) for i in range(26)] + [(99, None)],
        "doc_id long, text string",
    )
    sb = short.select(
        gram_hashes(F.col("text"), 25).alias("arrow"),
        gram_hashes_expr(F.col("text"), 25).alias("expr"),
    )
    assert sb.where(F.col("arrow") != F.col("expr")).count() == 0


def test_containment_pairs_catch_quote_inclusion(spark):
    """A short doc fully quoted inside a much longer one: Jaccard is
    tiny (misses at 0.5) but containment of the short side is 1.0 —
    exactly the pair class this operator exists for. Unrelated docs
    produce nothing; cont_a/cont_b are directional."""
    from stream_processing_platform_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the five boxing wizards jump quickly tonight"
    filler = " ".join(f"filler{i} pad{i} word{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, quote),
            (2, filler + " " + quote + " " + filler.replace("filler", "tail")),
            (3, "completely different content about something else entirely here"),
        ],
        "doc_id long, text string",
    )
    assert ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).count() == 0
    got = {
        (r.id_a, r.id_b): (r.cont_a, r.cont_b)
        for r in containment_pairs(docs, "doc_id", "text", threshold=0.9).collect()
    }
    assert set(got) == {(1, 2)}
    cont_a, cont_b = got[(1, 2)]
    assert cont_a == 1.0 and cont_b < 0.2  # directional: short side contained


def test_substring_dup_spans_hand_computed(spark):
    """Planted duplication: docs 1 and 2 share one long run embedded in
    different surroundings → each reports exactly ONE span covering the
    shared run (merged across overlapping grams); doc 3 (unique text)
    reports nothing; a doc repeating a gram only WITHIN itself is not
    flagged (distinct-doc counting)."""
    from stream_processing_platform_spark.operators.dedup import substring_dup_spans

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "CCCCCCCCC " + shared + " DDDD"),
            (3, "totally unrelated text with nothing shared at all here"),
            (4, "xyxyxyxyxyxyxyxyxyxyxyxyxyxyxy xyxyxyxyxyxyxyxyxyxyxyxyxyxyxy"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.span_start, r.span_end)
        for r in substring_dup_spans(docs, "doc_id", "text", min_len=25).collect()
    }
    assert set(got) == {1, 2}
    # brute-force truth (grams of one doc present in the other, merged):
    # doc 1 normalized = "aaaa <shared> bbbb" — the shared region incl.
    # its leading space starts at char 5; doc 2 at char 10
    assert got[1] == (5, 65) and got[2] == (10, 70)


def test_strip_html_edge_cases(spark):
    from stream_processing_platform_spark.functions.html import strip_html, text_density

    cases = [
        # script body with a bare '<' must vanish entirely
        ('<p>a</p><script>if (1 < 2) { x("</p>"); }</script><p>b</p>', "a b"),
        # &amp;lt; decodes to the LITERAL &lt;, never to '<'
        ("x &amp;lt; y", "x &lt; y"),
        ("<style>p{color:red}</style>text", "text"),
        ("<!-- <p>hidden</p> -->shown", "shown"),
        ("a&nbsp;&quot;b&quot;&#39;c&#39;", "a \"b\"'c'"),
        ("<div\nclass='x'>multi\nline</div>", "multi line"),
    ]
    df = spark.createDataFrame([(i, raw) for i, (raw, _) in enumerate(cases)], "i int, raw string")
    got = {r["i"]: r["out"] for r in df.select("i", strip_html(F.col("raw")).alias("out")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])

    dens = df.where("i = 0").select(
        text_density(F.col("raw"), strip_html(F.col("raw"))).alias("d")
    ).collect()[0]["d"]
    assert 0 < dens < 0.1  # 'a b' out of a chrome-heavy payload


def test_rrf_fuse_semantics(spark):
    """RRF: shared ids sum both reciprocal contributions, single-list ids
    get exactly one (missing list contributes 0, never null), and the
    fused order follows the textbook behavior — an id ranked well in
    BOTH lists beats one ranked top in only one."""
    from stream_processing_platform_spark.operators.ranking import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "id bigint, r int")
    b = spark.createDataFrame([(20, 1), (30, 2), (40, 3)], "id bigint, r int")
    rows = {x["id"]: x for x in rrf_fuse(a, b, k=60).collect()}
    assert set(rows) == {10, 20, 30, 40}
    assert rows[10]["rrf"] == 1.0 / 61
    assert rows[20]["rrf"] == 1.0 / 62 + 1.0 / 61
    assert rows[30]["rrf"] == 1.0 / 63 + 1.0 / 62
    assert rows[40]["rrf"] == 1.0 / 63
    assert (rows[10]["in_a"], rows[10]["in_b"]) == (True, False)
    assert (rows[40]["in_a"], rows[40]["in_b"]) == (False, True)
    assert all(x["rrf"] is not None for x in rows.values())
    # 20 (2nd+1st) outranks 10 (1st in one list only)
    order = sorted(rows, key=lambda i: (-rows[i]["rrf"], i))
    assert order[0] == 20 and order[1] == 30


def test_mmr_rerank_prefers_diversity(spark):
    """MMR textbook behavior: after picking the top-relevance item, a
    near-duplicate of it (sim 0.99) is deferred behind a less relevant
    but dissimilar item; with lam=1.0 the penalty vanishes and pure
    relevance order comes back. Ties break to the lowest id."""
    from stream_processing_platform_spark.operators.ranking import mmr_rerank

    cands = spark.createDataFrame(
        [(1, 0.95), (2, 0.94), (3, 0.80)], "id bigint, rel double"
    )
    sims = spark.createDataFrame(
        [(1, 2, 0.99), (2, 1, 0.99), (1, 3, 0.10), (3, 1, 0.10),
         (2, 3, 0.12), (3, 2, 0.12)],
        "ia bigint, ib bigint, s double",
    )
    diverse = [r["id"] for r in mmr_rerank(cands, sims, k=3, lam=0.7)
               .orderBy("mmr_rank").collect()]
    assert diverse == [1, 3, 2]
    pure = [r["id"] for r in mmr_rerank(cands, sims, k=3, lam=1.0)
            .orderBy("mmr_rank").collect()]
    assert pure == [1, 2, 3]
    # k caps the output
    assert mmr_rerank(cands, sims, k=2, lam=0.7).count() == 2


def test_mmr_rerank_sparse_sims_and_duplicate_bm25_terms(spark):
    """Two review fixes pinned: (1) mmr_rerank with a threshold-filtered
    (sparse) sims table treats a candidate with NO sim row against the
    selected set as SQL NULL — sorted after every non-null score, ties
    to the lowest id — instead of raising KeyError; (2) bm25_scores and
    its generated oracle dedupe duplicate query terms identically."""
    from stream_processing_platform_spark.operators.ranking import (
        bm25_oracle_sql,
        bm25_scores,
        mmr_rerank,
    )

    cands = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.7)], "id bigint, rel double"
    )
    # only the (1,2)/(2,1) pair exists; 3 has no sims at all
    sims = spark.createDataFrame(
        [(1, 2, 0.5), (2, 1, 0.5)], "ia bigint, ib bigint, s double"
    )
    order = [r.id for r in mmr_rerank(cands, sims, k=3, lam=0.7)
             .orderBy("mmr_rank").collect()]
    # 1 first (max rel); then 2 (non-null score); 3 (NULL score) last
    assert order == [1, 2, 3]

    docs = spark.createDataFrame(
        [(1, "join join hash"), (2, "scan filter")], "doc_id bigint, text string"
    )
    dup = {r.doc_id: (r.n_terms, r.bm25)
           for r in bm25_scores(docs, ["join", "join"]).collect()}
    single = {r.doc_id: (r.n_terms, r.bm25)
              for r in bm25_scores(docs, ["join"]).collect()}
    assert dup == single
    assert bm25_oracle_sql(["join", "join"]) == bm25_oracle_sql(["join"])


def test_bm25_null_text_contributes_zero_length(spark):
    """size(tokens(NULL)) is -1 under legacy sizeOfNull: uncorrected, a
    null-text doc SUBTRACTS 1 from total_tokens and skews avgdl for
    every scored doc. The fix (greatest(size, 0)) restores the old
    explode-shape contract — null/empty docs contribute 0 and scores
    are identical with or without the null rows present."""
    from stream_processing_platform_spark.operators.ranking import bm25_scores

    base = [(1, "join join hash"), (2, "scan filter join")]
    clean = spark.createDataFrame(base, "doc_id bigint, text string")
    with_nulls = spark.createDataFrame(
        base + [(3, None), (4, "")], "doc_id bigint, text string"
    )
    want = {r.doc_id: (r.n_terms, r.bm25) for r in bm25_scores(clean, ["join"]).collect()}
    got = {r.doc_id: (r.n_terms, r.bm25) for r in bm25_scores(with_nulls, ["join"]).collect()}
    assert got == want  # null/empty docs neither appear nor skew avgdl


def test_phrase_search_overlaps_and_counts(spark):
    """Overlapping occurrences count separately ('a a a' contains
    'a a' twice), missing-phrase docs are absent, first_pos is
    1-based, and 1-token phrases are rejected."""
    import pytest

    from stream_processing_platform_spark.operators.ranking import phrase_search

    d = spark.createDataFrame(
        [(1, "a a a b"), (2, "x a a y"), (3, "a b a")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_occurrences, r.first_pos)
           for r in phrase_search(d, ["a", "a"]).collect()}
    assert got == {1: (2, 1), 2: (1, 2)}  # doc 3: no adjacent pair

    tri = {r.doc_id: r.n_occurrences for r in phrase_search(d, ["a", "a", "a"]).collect()}
    assert tri == {1: 1}

    with pytest.raises(ValueError, match="two tokens"):
        phrase_search(d, ["a"])


def test_association_rules_hand_computed_and_skew_cap(spark):
    """Baskets {1:(a,b,c), 2:(a,b), 3:(a,b), 4:(x...)} with the x-basket
    oversized: (a,b) co=3, conf(a->b)=3/3, lift=(3*3)/(3*3); the capped
    basket contributes nothing; duplicate items dedupe."""
    from stream_processing_platform_spark.operators.ranking import association_rules

    rows = [(1, "a"), (1, "a"), (1, "b"), (1, "c"),
            (2, "a"), (2, "b"), (3, "a"), (3, "b")]
    rows += [(4, f"x{i}") for i in range(5)]  # oversized at cap 4
    df = spark.createDataFrame(rows, "bk long, it string")
    got = {(r.item_a, r.item_b): (r.co_count, r.supp_ppm, r.conf_a_to_b_ppm, r.lift_ppm)
           for r in association_rules(df, "bk", "it", min_co=2,
                                      max_basket_items=4).collect()}
    # 3 surviving baskets; (a,b) in all 3
    assert got == {("a", "b"): (3, 1_000_000, 1_000_000, 1_000_000)}


def test_gate_stats_long_doc_linear_and_exact(spark):
    """r9 verdict What's-wrong #1: the LIVE Gopher gate's max_tf used a
    distinct×filter HOF — O(n²) per doc in Catalyst's interpreted-lambda
    regime, i.e. minutes for ONE 10k-token web document on the ingest
    path. The r10 sorted run-length fold must (a) give the exact same
    integers on hand-checkable docs and (b) push a 20k-token document
    through in seconds (the quadratic form needs ~4e8 interpreted
    lambda evaluations — minutes)."""
    import time

    from stream_processing_platform_spark.queries.streaming_live import _gate_stats

    # (a) hand-checkable: 'the' appears 3x (max), 7 words, 5 distinct
    df = spark.createDataFrame(
        [
            ("s1", "the cat and the dog the end"),
            ("s1", ""),  # degenerate: zero tokens
            ("s2", "one two three"),
        ],
        ["source", "text"],
    )
    rows = {
        (r["source"], r["n_words"]): r
        for r in _gate_stats(df).collect()
    }
    r = rows[("s1", 7)]
    assert r["max_tf"] == 3 and r["n_unique"] == 5 and r["n_stop"] == 4
    assert rows[("s1", 0)]["max_tf"] == 0
    assert rows[("s2", 3)]["max_tf"] == 1

    # (b) 20k tokens, one token repeated 137 times
    words = [f"w{i % 5000}" for i in range(20_000 - 137)] + ["hot"] * 137
    long_doc = " ".join(words)
    big = spark.createDataFrame([("web", long_doc)], ["source", "text"])
    t0 = time.time()
    out = _gate_stats(big).collect()[0]
    elapsed = time.time() - t0
    assert out["max_tf"] == 137
    assert out["n_words"] == 20_000
    assert elapsed < 30, f"long-doc gate took {elapsed:.1f}s — quadratic regression?"


def test_boilerplate_blocks_recover_content_and_drop_chrome(spark):
    """Block-level extraction (r11): the kept content must be exactly
    the payload paragraphs (chrome text like Home/About/Buy/Copyright
    gone), and the whole-page strip must NOT have that property — the
    reason the block classifier exists."""
    from stream_processing_platform_spark.functions.html import (
        boilerplate_blocks,
        strip_html,
    )
    from stream_processing_platform_spark.queries.text import _bp_raw_col

    payload = (
        "spark shuffles partition data across executors when joins demand it "
        "and broadcast joins avoid the exchange for small dimension tables"
    )
    df = spark.createDataFrame(
        [(1, payload, "srcA")], "doc_id long, text string, source string"
    )
    cols = boilerplate_blocks(_bp_raw_col())
    row = df.select(
        cols["content"].alias("c"),
        cols["n_blocks"].alias("nb"),
        cols["n_kept"].alias("nk"),
        strip_html(_bp_raw_col()).alias("whole"),
    ).collect()[0]
    # the two kept paragraphs concatenate back to the payload halves
    # (the fixture splits at length/2, which may land mid-word)
    half = len(payload) // 2
    expected = " ".join((payload[:half].strip() + " " + payload[half:].strip()).split())
    assert row["c"] == expected
    assert row["nk"] == 2
    assert row["nb"] > row["nk"]  # chrome blocks existed and were dropped
    for chrome in ("Home", "About", "Buy now", "Copyright", "more"):
        assert chrome not in row["c"]
        assert chrome in row["whole"]  # the whole-page strip keeps chrome


def test_boilerplate_blocks_zero_content_page(spark):
    """A page whose payload halves are too short keeps nothing and must
    emit an EMPTY (not null) content string on both engines."""
    import duckdb

    from stream_processing_platform_spark.functions.html import (
        boilerplate_blocks,
        boilerplate_blocks_sql,
    )
    from stream_processing_platform_spark.queries.text import (
        _bp_raw_col,
        _bp_raw_sql,
    )

    df = spark.createDataFrame(
        [(1, "tiny text", "srcB")], "doc_id long, text string, source string"
    )
    cols = boilerplate_blocks(_bp_raw_col())
    row = df.select(cols["content"].alias("c"), cols["n_kept"].alias("nk")).collect()[0]
    assert row["c"] == "" and row["nk"] == 0
    e = boilerplate_blocks_sql(_bp_raw_sql())
    got = duckdb.sql(
        f"SELECT {e['content']} AS c, {e['n_kept']} AS nk FROM "
        f"(SELECT 'tiny text' AS text, 'srcB' AS source)"
    ).fetchone()
    assert got == ("", 0)


def test_boilerplate_arrow_path_equals_expression_form(spark, sf_dir):
    """The r12 Arrow mapInPandas boilerplate path must be EXACTLY
    row-identical to the HOF expression form (string/integer outputs —
    no float allowance; the duckdb oracle mirrors the expression form,
    so this pin is what licenses the faster default). Adversarial cases
    cover entity-in-entity decoding, link-density boundaries, and the
    Java-vs-Python \\s divergence candidates (\\x0b, \\xa0)."""
    from stream_processing_platform_spark.queries.text import q_boilerplate_blocks

    a = q_boilerplate_blocks(spark, sf_dir, impl="arrow").alias("a")
    e = q_boilerplate_blocks(spark, sf_dir, impl="expr").alias("e")
    j = a.join(e, "doc_id", "full_outer")
    assert j.where(
        (F.col("a.content") != F.col("e.content"))
        | (F.col("a.n_blocks") != F.col("e.n_blocks"))
        | (F.col("a.n_kept") != F.col("e.n_kept"))
        | F.col("a.content").isNull()
        | F.col("e.content").isNull()
    ).count() == 0

    from stream_processing_platform_spark.functions.html import (
        boilerplate_blocks,
        boilerplate_blocks_pandas,
    )

    cases = [
        (0, "<p>&amp;lt; stays literal but this block is long enough</p>"),
        (1, "<p>short</p>"),
        (2, "<p><a href=x>linklinklinklinklink</a> tiny tail that loses</p>"),
        (3, "<p>vertical\x0btab and\xa0nbsp chars inside a long block here</p>"),
        (4, "no tags at all but a perfectly long plain text payload here"),
        (5, ""),
        (6, "<ul><li>item one is long enough to keep around</li><li>x</li></ul>"),
    ]
    d = spark.createDataFrame(cases, "doc_id long, raw string")
    cols = boilerplate_blocks(F.col("raw"))
    ee = d.select(
        "doc_id",
        cols["content"].alias("content"),
        cols["n_blocks"].alias("n_blocks"),
        cols["n_kept"].alias("n_kept"),
    ).alias("e")
    aa = boilerplate_blocks_pandas(d, F.col("raw")).alias("a")
    jj = aa.join(ee, "doc_id", "full_outer")
    bad = jj.where(
        (F.col("a.content") != F.col("e.content"))
        | (F.col("a.n_blocks") != F.col("e.n_blocks"))
        | (F.col("a.n_kept") != F.col("e.n_kept"))
    ).collect()
    assert bad == [], bad


def test_nfc_snippet_classes_behave_as_labeled():
    """The q_unicode_nfc fixture literals carry REAL decomposed
    sequences (an editor normalizing this file would silently turn the
    query into a no-op test): exactly the labeled classes must change
    under NFC, and the singletons must land on their documented
    composition targets."""
    import unicodedata

    from stream_processing_platform_spark.queries.text import _NFC_SNIPPETS

    changed = [
        unicodedata.normalize("NFC", s) != s for s in _NFC_SNIPPETS
    ]
    assert changed == [True, True, True, False, False, True, False, True]
    assert _NFC_SNIPPETS[0].startswith("é")
    assert unicodedata.normalize("NFC", _NFC_SNIPPETS[2])[0] == "Å"
    assert unicodedata.normalize("NFC", _NFC_SNIPPETS[7])[0] == "Ω"
    assert _NFC_SNIPPETS[4][0] == "ﬁ"  # NFC-invariant ligature
