"""Text-analysis functions for the LLM-data-pipeline surface.

All of these are pure Column expressions (whole-stage codegen, no Python
in the hot path): tokenization, shingling, language-ID heuristic, quality
scoring, fingerprinting. Designed so the identical computation is
expressible in ANSI SQL for the duckdb oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"\s+"


def let(value: Column, body) -> Column:
    """Bind ``value`` once and reference it many times inside ``body``.

    Column expressions are trees: every Python-side reference to a Column
    splices a full copy of its subtree into the plan, so an expression
    used k times is *evaluated* k times per row (catastrophic when the
    body is itself a per-element lambda — e.g. ``element_at(toks, i)``
    inside a ``transform`` re-runs the whole tokenizer per element,
    making shingling O(tokens²)). Wrapping the value in a 1-element array
    and going through ``transform`` turns it into a higher-order-function
    lambda variable, which Spark evaluates once and then reads by
    reference. The ``element_at(..., 1)`` unwraps the result.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def portable_round(x: Column, digits: int) -> Column:
    """``floor(x * 10^d + 0.5) / 10^d`` — rounding that is bit-identical
    across engines. ``round()`` itself diverges when x lands on a half
    boundary (Spark rounds the shortest decimal repr via BigDecimal
    HALF_UP; duckdb rounds the binary double), which integer-quotient
    ratios like jaccard = inter/union or diversity = distinct/total hit
    whenever the denominator has a factor of 5 (e.g. 1/640 = 0.0015625
    exactly). SQL twins must use the literally-matching
    ``floor((expr) * 10^d + 0.5) / 10^d``. See CLAUDE.md."""
    scale = float(10**digits)
    return F.floor(x * scale + 0.5) / scale


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empties removed."""
    return F.filter(F.split(F.lower(text), WS), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


# BPE-style pre-tokenizer (the GPT-2 pattern's portable core): letter
# runs, digit runs, and single punctuation marks each become one
# pre-token — the unit a byte-pair tokenizer would then merge over, and
# a far better LLM token-budget estimate than whitespace words (which
# undercount punctuation-heavy text). ASCII classes only so Java regex
# (Spark) and RE2 (duckdb) agree byte-for-byte — including the
# whitespace class, spelled explicitly: Java's \s contains \x0B
# (vertical tab) but RE2's does not, so [^...\s] would diverge on
# documents containing \x0B.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0B]"


def bpe_token_count(text: Column) -> Column:
    """Number of BPE-style pre-tokens (JVM-side regexp_count)."""
    return F.regexp_count(text, F.lit(BPE_RE))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-token shingles (each shingle a space-joined string).

    The standard MinHash document representation. Pure higher-order
    functions: transform over token offsets, then array_distinct.
    """
    def body(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        sh = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
        # Documents shorter than n tokens yield their whole text as one shingle.
        return F.array_distinct(
            F.when(F.size(toks) >= n, sh).otherwise(F.array(F.concat_ws(" ", toks)))
        )

    # let-bind: every element_at above would otherwise re-run the tokenizer.
    return let(tokens(text), body)


# Marker stopwords per language for the n-gram/lexicon language-ID
# heuristic. Counting occurrences of ` <marker> ` in the padded text is
# exactly expressible in both engines as len(split(text, marker)) - 1.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
    # r14: the Latin-script confusables the trained tier now covers
    # (q_lang_id_trained); the 4-class default of lang_id() below is
    # unchanged — q_lang_id keeps its original surface.
    "pt": ("o", "nao", "uma"),
    "it": ("il", "di", "che"),
    "nl": ("de", "het", "een"),
}

LANG_DEFAULT: tuple[str, ...] = ("en", "de", "fr", "es")


def _marker_hits(text_padded: Column, markers: tuple[str, ...]) -> Column:
    hit = F.lit(0)
    for m in markers:
        hit = hit + F.size(F.split(text_padded, f" {m} ")) - 1
    return hit


def lang_id(text: Column, langs: tuple[str, ...] = LANG_DEFAULT) -> Column:
    """Heuristic language guess: argmax of marker-word hit counts, 'und'
    (undetermined) when nothing matches. Deterministic tie-break by
    position in ``langs`` (earlier wins ties). Default stays the
    original 4-class tier; the trained LID passes the extended 7-class
    tuple (r14).

    Expression form: ``greatest`` over (score, reverse-position, lang)
    structs — each score subtree appears exactly ONCE (a sentinel
    (0, k+1, 'und') candidate wins exactly when every score is 0, so
    the result is a single ``greatest(...)['lang']`` with no second
    reference to the tree). The previous take-if-greater ``when`` loop
    nested ``best_score`` inside itself, duplicating every score
    subtree ~3^k times: at k=4 it compiled, at k=7 the generated Java
    blew janino's 64 KB method limit and the whole stage fell back to
    interpreted eval (r14; Column exprs are trees — the CLAUDE.md
    k-references rule, compounding per loop iteration)."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    k = len(langs)
    cands = [
        F.struct(
            _marker_hits(padded, LANG_MARKERS[lang]).alias("s"),
            F.lit(k - i).alias("r"),  # ties: higher r = earlier lang
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ]
    sentinel = F.struct(
        F.lit(0).alias("s"), F.lit(k + 1).alias("r"), F.lit("und").alias("lang")
    )
    return F.greatest(*cands, sentinel)["lang"]


STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "on", "for")


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0, 1]:

    0.4 * length_score (saturating at 200 tokens)
    + 0.3 * lexical diversity (distinct/total tokens)
    + 0.3 * stopword presence (saturating at ratio 0.1)

    A cheap, fully-columnar stand-in for model-based quality filters used
    in pretraining pipelines.
    """
    def body(toks: Column) -> Column:
        n = F.size(toks).cast("double")
        diversity = F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(F.lit(0.0))
        length_score = F.least(n / F.lit(200.0), F.lit(1.0))
        sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
        sw_ratio = F.when(F.size(toks) > 0, sw / F.size(toks)).otherwise(F.lit(0.0))
        sw_score = F.least(sw_ratio / F.lit(0.1), F.lit(1.0))
        return portable_round(0.4 * length_score + 0.3 * diversity + 0.3 * sw_score, 6)

    # let-bind: tokenize once instead of once per sub-score.
    return let(tokens(text), body)


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    trim."""
    return F.trim(F.regexp_replace(F.lower(text), WS, " "))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint = md5 of the normalized text
    (content-defined identity for exact dedup across formatting noise)."""
    return F.md5(normalize_text(text))


# Winnow gram-hash parameters: polynomial hash over character codepoints,
# sum(code[i] * B^(k-1-i)) mod M with per-term mod. M is the largest
# prime under 2^41 so every intermediate fits int64 under ANSI overflow
# checks (term < 2^21 codepoint * 2^41 < 2^62; 12 post-mod terms < 2^45)
# while keeping gram collisions negligible (~25M grams at sf0.1 pair up
# over 2^41 → O(100) collisions corpus-wide, and a collision only
# matters if both values are selected window-minima in >= threshold
# shared positions). duckdb evaluates the IDENTICAL integer expression,
# so the operator stays oracle-checkable — that cross-engine identity is
# why this is a fixed-power polynomial, not md5 (10x costlier per gram:
# digest + 32-char hex strings whose window-min comparisons dominate)
# and not a true rolling scan (Catalyst has no O(n) stateful scan over
# an array without quadratic copies; 12 multiply-adds per position is
# already pure codegen arithmetic).
WINNOW_HASH_M = 2199023255531
WINNOW_HASH_B = 131


def _gram_powers(k: int):
    return np.array(
        [pow(WINNOW_HASH_B, k - 1 - i, WINNOW_HASH_M) for i in range(k)],
        dtype=np.uint64,
    )


def _gram_hash_array(s: str | None, powers, k: int):
    """uint64 polynomial hashes of every k-char gram of ``s`` (chars past
    the end count 0; a string shorter than k still yields one gram).
    Codepoints come from one utf-32 decode — exact, matching duckdb's
    unicode()."""
    codes = np.frombuffer((s or "").encode("utf-32-le"), dtype="<u4")
    g = max(len(codes) - k + 1, 1)
    padded = np.concatenate([codes.astype(np.uint64), np.zeros(k, dtype=np.uint64)])
    h = np.zeros(g, dtype=np.uint64)
    m = np.uint64(WINNOW_HASH_M)
    for i in range(k):
        h = (h + (padded[i : i + g] * powers[i]) % m) % m
    return h


def winnow_fingerprints(text: Column, k: int = 12, w: int = 6) -> Column:
    """Winnowed k-gram fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every k-char gram of the normalized text,
    slide a w-hash window, keep each window's minimum, dedupe. Robust
    to insertions/reordering in a way whole-document md5 is not — two
    documents sharing a long run share its winnowed prints regardless
    of what surrounds it.

    Gram hashes are the fixed-power polynomial above — integer
    arithmetic duckdb reproduces bit-for-bit (SQL twin in
    queries/text.py), so selection semantics AND values stay
    oracle-checkable. Execution is an Arrow-batched pandas_udf over the
    JVM-normalized text: per document the codepoints come from one
    utf-32 decode (exact codepoints, matching duckdb's unicode()), the
    hash array is 12 vectorized multiply-add-mods, and the window
    minima one numpy sliding-window reduction — O(n·k) uint64 lanes
    instead of interpreted-per-element HOF lambdas (7.5 s → <1 s at
    sf0.1) or per-gram md5 digests (6.7 s). uint64 bounds: codepoint
    (<2^21) × power (<2^41) < 2^62, per-term mod keeps sums < 2^45.
    Partition-parallel, zero shuffle. The expression twin in
    ``tests/twin_refs.py`` pins the values exactly."""
    from pyspark.sql.types import ArrayType, LongType

    powers = _gram_powers(k)

    @F.pandas_udf(ArrayType(LongType()))
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            h = _gram_hash_array(s, powers, k)
            mins = np.lib.stride_tricks.sliding_window_view(h, min(w, len(h))).min(axis=1)
            out.append(np.unique(mins).astype(np.int64))
        return pd.Series(out)

    return _winnow(normalize_text(text))


def gram_hashes(text: Column, k: int) -> Column:
    """Per-position polynomial k-gram hashes of the normalized text —
    position p (1-based = array index) hashes chars [p, p+k-1], chars
    past the end contributing 0 (clipped-slice semantics, so a doc
    shorter than k still emits one gram). Same fixed-power polynomial
    and Arrow execution as :func:`winnow_fingerprints`; unlike winnowing
    this keeps EVERY position, which is what substring-span duplicate
    detection needs (the covered character ranges, not a sampled
    fingerprint set). duckdb reproduces the values bit-for-bit."""
    from pyspark.sql.types import ArrayType, LongType

    powers = _gram_powers(k)

    @F.pandas_udf(ArrayType(LongType()))
    def _hashes(texts: pd.Series) -> pd.Series:
        return pd.Series([_gram_hash_array(s, powers, k).astype(np.int64) for s in texts])

    return _hashes(normalize_text(text))


def ngram_list(text: Column, n: int) -> Column:
    """ALL n-token shingles in order (duplicates kept — the denominator
    of the repetition ratio). Empty array when the document has fewer
    than n tokens."""
    def body(toks: Column) -> Column:
        sh = F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
        return F.when(F.size(toks) >= n, sh).otherwise(F.array().cast("array<string>"))

    return let(tokens(text), body)


def ngram_repetition_ratio(text: Column, n: int) -> Column:
    """Gopher-style duplicate n-gram fraction: 1 - distinct/total n-grams
    (0.0 for documents shorter than n tokens). High values flag the
    boilerplate / looping generations a pretraining pipeline drops."""
    def body(grams: Column) -> Column:
        total = F.size(grams).cast("double")
        distinct = F.size(F.array_distinct(grams)).cast("double")
        return F.when(
            total > 0, portable_round(1.0 - distinct / total, 6)
        ).otherwise(F.lit(0.0))

    return let(ngram_list(text, n), body)


# PII patterns kept to syntax that parses identically in Java regex
# (Spark) and RE2 (duckdb): no backrefs, no lookaround — that identity is
# oracle-proven by q_pii_redaction (queries/text.py), which runs both
# engines over the corpus plus injected PII rows.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# Phone = optional +CC, then 2-3 digit groups with single separators:
# the grouped structure (vs "any 8+ digit/sep run") keeps separated dates
# (2024-01-01), numeric ranges (100-200) and ID lists out. Documented
# false-positive surface: CONTIGUOUS digit runs of 7-14 digits (compact
# dates 20240101, order ids) still match — without lookaround they are
# indistinguishable from unformatted phone numbers; callers needing
# stricter behavior should pre-mask their known id columns.
PHONE_RE = (
    r"(\+[0-9]{1,3}[ .-]?)?\(?[0-9]{1,4}\)?[ .-]?[0-9]{3,4}[ .-]?[0-9]{3,6}"
    r"|[0-9]{3}[ .-][0-9]{4}"
)


def redact_pii(text: Column) -> Column:
    """Mask email addresses then phone-like digit runs. Order matters:
    emails are consumed first so their digits can't re-match as phones."""
    no_email = F.regexp_replace(text, EMAIL_RE, "[EMAIL]")
    return F.regexp_replace(no_email, PHONE_RE, "[PHONE]")


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) found by the redaction patterns."""
    n_email = F.regexp_count(text, F.lit(EMAIL_RE))
    n_phone = F.regexp_count(F.regexp_replace(text, EMAIL_RE, "[EMAIL]"), F.lit(PHONE_RE))
    return n_email, n_phone


def quality_metrics(text: Column) -> Column:
    """struct(n_tokens, quality, rep_bigram) computed from ONE tokenizer
    pass. Selecting the metrics as separate columns would splice the
    tokenizer subtree once per column (3x eval per row — the dominant
    cost of a quality-filter scan at scale); binding the token array with
    ``let`` and emitting a struct runs it once. Callers expand with
    ``.select(m["n_tokens"], ...)``."""

    def body(toks: Column) -> Column:
        n = F.size(toks).cast("double")
        diversity = F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(F.lit(0.0))
        length_score = F.least(n / F.lit(200.0), F.lit(1.0))
        sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
        sw_ratio = F.when(n > 0, sw / n).otherwise(F.lit(0.0))
        sw_score = F.least(sw_ratio / F.lit(0.1), F.lit(1.0))
        quality = portable_round(0.4 * length_score + 0.3 * diversity + 0.3 * sw_score, 6)

        grams = F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, (i + 1).cast("int")),
                    F.element_at(toks, (i + 2).cast("int")),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

        def rep_body(g: Column) -> Column:
            total = F.size(g).cast("double")
            return F.when(
                total > 0,
                portable_round(1.0 - F.size(F.array_distinct(g)) / total, 6),
            ).otherwise(F.lit(0.0))

        return F.struct(
            F.size(toks).cast("int").alias("n_tokens"),
            quality.alias("quality"),
            let(grams, rep_body).alias("rep_bigram"),
        )

    return let(tokens(text), body)
