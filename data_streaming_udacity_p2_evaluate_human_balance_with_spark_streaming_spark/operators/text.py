"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

All hot-path expressions are JVM-side built-ins (split / filter /
aggregate / regexp) — no Python UDFs — so they stay inside whole-stage
codegen and scale linearly with input partitions. Formulas are chosen
to be exactly mirrorable in ANSI SQL for the DuckDB oracle: integer
counts, and double arithmetic only over identical exact inputs.

The reference has no text operators (its only string work is
base64/split, SURVEY.md §2.6); these extend the engine per the
north-star (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny deterministic stopword sets per language for the n-gram/stopword
#: heuristic language ID. Kept small on purpose: the heuristic must be
#: cheap at 100 TB (a few array membership tests per doc).
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "la", "los", "que", "es", "y"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "zh": ["的", "是", "了", "在", "我", "有"],
}

PUNCT_CLASS = "[.,!?;:]"
MOD = 1_000_000_007


def tokens(col: str = "text") -> Column:
    """Whitespace tokenization (documents are single-space joined)."""
    return F.split(F.col(col), " ")


def token_count(col: str = "text") -> Column:
    return F.size(tokens(col)).cast("bigint")


def stopword_hits(lang: str, col: str = "text") -> Column:
    words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(
        f"size(filter(split({col}, ' '), t -> t IN ({words})))"
    ).cast("bigint")


def stopword_ratio(col: str = "text") -> Column:
    return stopword_hits("en", col).cast("double") / token_count(col)


def punct_ratio(col: str = "text") -> Column:
    kept = F.length(F.regexp_replace(F.col(col), PUNCT_CLASS, ""))
    return (F.length(F.col(col)) - kept).cast("double") / F.length(F.col(col))


def quality_score(col: str = "text") -> Column:
    """Composite quality in [0,1]: rewards stopword density (naturalness)
    and length, penalizes punctuation soup. Deterministic double math."""
    length_term = F.least(F.length(F.col(col)).cast("double") / F.lit(500.0), F.lit(1.0))
    return (
        stopword_ratio(col) * F.lit(2.0) + length_term - punct_ratio(col)
    )


def lang_id(col: str = "text") -> Column:
    """Stopword-hit-count language ID with deterministic tiebreak
    (alphabetical language order wins ties via strict > comparison)."""
    hits = {lang: stopword_hits(lang, col) for lang in sorted(STOPWORDS)}
    best = F.greatest(*hits.values())
    out = F.lit("unk")
    # first language (alphabetical) reaching the max wins
    for lang in sorted(STOPWORDS, reverse=True):
        out = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


def fingerprint_md5(col: str = "text") -> Column:
    """Content-hash fingerprint for exact dedup."""
    return F.md5(F.col(col))


def fingerprint_rolling(col: str = "text") -> Column:
    """Block-combined content fingerprint (hash-of-substrings): md5 per
    32-char block reduced to 31 bits, polynomial-folded across blocks
    mod 1e9+7 — all intermediates < 2^63 so the arithmetic is portable
    (no overflow wrap), exactly reproducible in the oracle. Replaced
    the per-char rolling lambda (r4): same order-sensitivity and
    incremental-append property at ~32× fewer interpreted steps."""
    from ..functions.hashing import block_fingerprint

    return block_fingerprint(col)


def stopword_matches(col: str = "text") -> Column:
    """ALL stopword occurrences (every language) extracted in ONE regex
    pass: tokens bounded by start/space and a lookahead (non-consuming,
    so consecutive stopwords both match). Per-language counts then run
    over this tiny matched array (~a few entries/doc) instead of
    re-filtering the full token array once per language — the profile's
    dominant cost before r4. Exact-token semantics match
    `stopword_hits` (verified corpus-wide): the alternation only
    matches a whole token, and a token in two languages' lists (e.g.
    'la') is extracted once and counted by both languages' IN filters."""
    every = sorted({w for ws in STOPWORDS.values() for w in ws})
    alt = "|".join(every)
    return F.expr(f"regexp_extract_all({col}, '(^| )({alt})(?= |$)', 2)")


def _hits_from_matches(lang: str, matches_col: str = "_sw") -> Column:
    words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(f"size(filter({matches_col}, w -> w IN ({words})))").cast("bigint")


def text_profile(docs: DataFrame, col: str = "text") -> DataFrame:
    """One-scan profile, no shuffle. Two chained selects (a Catalyst
    common-subexpression barrier, NOTES.md): the first materializes the
    shared primitives — ONE stopword-regex pass, ONE tokenize, lengths —
    the second derives every metric from them. Non-space char count is
    length - (n_tokens - 1): documents are single-space joined (the
    `tokens()` contract, 0 violations at any shipped SF), which saves a
    full regexp_replace scan; the oracle keeps the replace() form, so
    the value gate would surface any corpus that breaks the invariant.

    Content fingerprints live in `doc_fingerprints` (r4): the rolling
    hash is lambda-bound and dominated this profile (0.49 s of 0.91 s
    at sf0.1); splitting the workload classes lets the ratio/language
    profile run at scan speed while fingerprinting stays a first-class
    — and separately benched — operator."""
    shared = docs.select(
        "doc_id",
        F.col(col).alias("_t"),
        stopword_matches(col).alias("_sw"),
        token_count(col).alias("n_tokens"),
        F.length(F.col(col)).alias("_len"),
    )
    hit_cols = {
        lang: _hits_from_matches(lang).alias(f"_h_{lang}") for lang in sorted(STOPWORDS)
    }
    staged = shared.select(
        "doc_id", "_t", "n_tokens", "_len", *hit_cols.values()
    )
    best = F.greatest(*[F.col(f"_h_{lang}") for lang in sorted(STOPWORDS)])
    lang_expr = F.lit("unk")
    for lang in sorted(STOPWORDS, reverse=True):
        lang_expr = F.when(
            (F.col(f"_h_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(lang_expr)
    chars = F.col("_len") - (F.col("n_tokens") - F.lit(1))
    stop_r = F.col("_h_en").cast("double") / F.col("n_tokens")
    kept = F.length(F.regexp_replace(F.col("_t"), PUNCT_CLASS, ""))
    punct_r = (F.col("_len") - kept).cast("double") / F.col("_len")
    length_term = F.least(F.col("_len").cast("double") / F.lit(500.0), F.lit(1.0))
    return staged.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("n_tokens") + (chars - F.col("n_tokens")) / F.lit(4.0))
        .cast("bigint")
        .alias("n_subwords"),
        stop_r.alias("stop_ratio"),
        punct_r.alias("punct_ratio"),
        (stop_r * F.lit(2.0) + length_term - punct_r).alias("quality"),
        lang_expr.alias("lang_pred"),
        F.md5("_t").alias("fp_md5"),
    )


def doc_fingerprints(docs: DataFrame, col: str = "text") -> DataFrame:
    """Content fingerprints in one scan: exact md5 (exact-dedup key)
    plus the block-combined rolling hash (order-sensitive, incremental
    under block append — the cheap cross-engine content signature)."""
    return docs.select(
        "doc_id",
        fingerprint_md5(col).alias("fp_md5"),
        fingerprint_rolling(col).alias("fp_roll"),
    )


#: PII patterns shared verbatim by the Spark query and the DuckDB
#: oracle — restricted to syntax Java regex and RE2 interpret
#: identically (char classes, +/{m,}, literal dots; no backrefs or
#: lookaround, which RE2 lacks).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def redact_pii(col: str = "text") -> Column:
    """Replace emails / phone numbers / SSNs with typed placeholder
    tags — the scrubbing step every training corpus passes before
    anything else sees it. Chained JVM regexp_replace, one scan, no
    Python. Order matters: SSN before phone (an SSN is a substring
    shape of neither, but phone-like 3-3-4 must not eat 3-2-4 first)."""
    out = F.col(col)
    for kind in ("email", "ssn", "phone"):
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return out


def pii_counts(col: str = "text") -> dict[str, Column]:
    """Per-kind match counts (pre-redaction) for audit metrics."""
    return {
        kind: F.size(F.regexp_extract_all(F.col(col), F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def repetition_stats(col: str = "text") -> dict[str, Column]:
    """Within-document repetition signals (the Gopher-style quality
    rules): distinct-token ratio, the most-frequent token's share, and
    the duplicate-bigram fraction. Computed with one tokenize + array
    expressions — per-row, no shuffle; heavily repetitive documents
    (boilerplate, keyword spam, decode loops) score near 0 distinct
    ratio / high top-token share and get filtered before training.

    The top-token share is O(distinct × tokens) interpreted lambda work
    per row — fine for document-sized rows composed into a single-scan
    profile; for corpora of very long documents use an explode+groupBy
    twin instead (the minhash lesson, NOTES.md).

    Single-token documents: bigram ratio is defined as 0.0 (guarded —
    ANSI element_at would throw out-of-bounds, and Spark/DuckDB
    disagree on NULLs inside array_distinct)."""
    toks = f"split({col}, ' ')"
    # bigrams via slice+zip, NOT element_at(toks, i) in the lambda:
    # interpreted higher-order functions re-evaluate the split() per
    # element access, turning the bigram list into O(tokens²) work per
    # document (measured 4.4 s → 0.5 s on sf0.1 documents, values
    # bit-identical). slice pays the split a constant number of times.
    bigrams = (
        f"transform(arrays_zip(slice({toks}, 1, size({toks}) - 1), "
        f"slice({toks}, 2, size({toks}) - 1)), "
        f"p -> concat(p['0'], ' ', p['1']))"
    )
    return {
        "distinct_token_ratio": F.expr(
            f"CAST(size(array_distinct({toks})) AS DOUBLE) / size({toks})"
        ),
        # bind the token array ONCE as a lambda variable (transform over
        # a 1-element array) — the naive form re-evaluates split() per
        # DISTINCT token in the inner filter (interpreted HOFs don't CSE;
        # measured 0.85 s → 0.37 s on sf0.1, values bit-identical)
        "top_token_share": F.expr(
            f"transform(array({toks}), tk -> "
            f"CAST(array_max(transform(array_distinct(tk), t -> "
            f"size(filter(tk, x -> x = t)))) AS DOUBLE) / size(tk))[0]"
        ),
        "dup_bigram_ratio": F.expr(
            f"CASE WHEN size({toks}) < 2 THEN 0.0D ELSE "
            f"1.0D - CAST(size(array_distinct({bigrams})) AS DOUBLE) / size({bigrams}) END"
        ),
    }


def token_tv_divergence(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Pairwise total-variation distance between per-group unigram
    distributions, in EXACT fixed-point arithmetic (see the
    source_token_tv_divergence query docstring for the closed form
    over the shared support and the 100 TB shape). DECIMAL(38,0)
    headroom: cnt·tot ≤ 1e24 and Σ over a 1e6-word vocabulary ≤ 1e30 —
    comfortably inside 38 digits at trillion-token scale.

    Returns (group_a, group_b, tv_distance) for every unordered pair
    that SHARES at least one word (inner join on the shared support);
    a fully-disjoint pair emits no row — by construction its TV is
    exactly 1.0 (pinned in tests). tv ∈ [0, 1]: 0 = identical
    distributions."""
    c = (
        docs.select(
            F.col(group_col).alias("_g"),
            F.explode(F.split(text_col, " ")).alias("w"),
        )
        .groupBy("_g", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = c.groupBy("_g").agg(F.sum("cnt").cast("decimal(38,0)").alias("tot"))
    a = c.select(
        F.col("_g").alias("group_a"),
        "w",
        F.col("cnt").cast("decimal(38,0)").alias("cnt_a"),
    )
    b = c.select(
        F.col("_g").alias("group_b"),
        "w",
        F.col("cnt").cast("decimal(38,0)").alias("cnt_b"),
    )
    pairs = (
        a.join(b, "w")
        .filter(F.col("group_a") < F.col("group_b"))
        .join(t.select(F.col("_g").alias("group_a"), F.col("tot").alias("tot_a")), "group_a")
        .join(t.select(F.col("_g").alias("group_b"), F.col("tot").alias("tot_b")), "group_b")
        .groupBy("group_a", "group_b", "tot_a", "tot_b")
        .agg(
            F.sum(
                F.abs(F.col("cnt_a") * F.col("tot_b") - F.col("cnt_b") * F.col("tot_a"))
            ).alias("s_abs"),
            F.sum(F.col("cnt_a") * F.col("tot_b")).alias("s_a"),
            F.sum(F.col("cnt_b") * F.col("tot_a")).alias("s_b"),
        )
    )
    d = (F.col("tot_a") * F.col("tot_b")).cast("string").cast("double")
    tv = (
        F.col("s_abs").cast("string").cast("double")
        + (d - F.col("s_a").cast("string").cast("double"))
        + (d - F.col("s_b").cast("string").cast("double"))
    ) / (2 * d)
    return pairs.select(
        "group_a", "group_b", F.round(tv, 6).alias("tv_distance")
    )
