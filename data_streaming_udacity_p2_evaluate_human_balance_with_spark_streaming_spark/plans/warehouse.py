"""Round-4 second wave: warehouse/temporal joins and tokenizer-pipeline
ops the reference's users would reach for next.

The reference joins two live streams on an equi-key
(`sparkpykafkajoin.py:131`); production teams immediately need the
non-equi temporal variants (range join, SCD2 point-in-time) and the
corpus-statistics ops that feed tokenizer training (BPE pair counts,
inverted index) and data triage (skew profile, outlier flags, length
histograms). Everything here is a `@register` query with a full DuckDB
oracle; docstrings carry the 100 TB plan-shape argument.

Float parity discipline (driver compares doubles by exact repr): every
mean/variance/sum-of-doubles goes through DECIMAL(18,6) partial sums —
decimal addition is associative, so Spark's partition-order-dependent
aggregation and DuckDB's sequential scan produce the SAME exact value;
only then do we cast to double and do division/sqrt, which are
IEEE-exact given identical operands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.files import load_table, load_table_spread
from .queries import register

# 30-minute incident window for the range join, expressed once so the
# Spark plan and the oracle can't drift. Incidents are a deterministic
# 1/16 md5-prefix sample of error events: a value threshold would be
# SF-dependent (the synthetic value range grows with SF — a fixed cut
# matched ZERO rows at sf≤0.01), while a content-hash rate is
# scale-invariant and layout/retry-stable.
_INCIDENT_MIN = 30


@register(
    "range_join_error_bursts",
    f"""
    WITH inc AS (
      SELECT event_id AS incident_id, ts AS start_ts,
             ts + INTERVAL {_INCIDENT_MIN} MINUTES AS end_ts
      FROM events
      WHERE event_type = 'error'
        AND substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'
    )
    SELECT incident_id, start_ts,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users,
           CAST(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             AS sum_value
    FROM inc JOIN events e
      ON e.ts >= inc.start_ts AND e.ts < inc.end_ts
     AND e.event_id <> inc.incident_id
    GROUP BY incident_id, start_ts
    """,
)
def q_range_join_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with NO equi-key (blast radius of severe errors: all
    events, any user, inside each incident's 30-minute window).

    Spark would plan the raw inequality join as BroadcastNestedLoop —
    O(|incidents|·|events|) compares. The scale shape is BINNING: floor
    both sides to 30-minute bins; an interval of exactly one bin width
    overlaps ≤2 bins, so the interval side expands ×2 and the join
    becomes a hash equi-join on `bin` with the time predicate as a
    residual. Each event lives in exactly one bin, so a (incident,
    event) pair can match only once — no post-join dedup. At 100 TB
    this is one shuffle on a dense integer key; the severe-incident
    side is tiny by construction (value-threshold filter) and
    broadcastable, but the binned form stays correct when it isn't.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    bin_micros = _INCIDENT_MIN * 60 * 1_000_000
    inc = (
        ev.filter(
            (F.col("event_type") == "error")
            & (F.substring(F.md5(F.col("event_id").cast("string")), 1, 1) == "0")
        )
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr(f"INTERVAL {_INCIDENT_MIN} MINUTES")).alias(
                "end_ts"
            ),
        )
        .withColumn(
            "bin",
            F.explode(
                F.array(
                    F.floor(F.unix_micros("start_ts") / bin_micros),
                    F.floor(F.unix_micros("start_ts") / bin_micros) + 1,
                )
            ),
        )
    )
    probe = ev.withColumn("bin", F.floor(F.unix_micros("ts") / bin_micros))
    joined = probe.join(
        F.broadcast(inc),
        (probe["bin"] == inc["bin"])
        & (F.col("ts") >= F.col("start_ts"))
        & (F.col("ts") < F.col("end_ts"))
        & (F.col("event_id") != F.col("incident_id")),
    )
    return joined.groupBy("incident_id", "start_ts").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("string")
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "scd2_point_in_time_state",
    """
    WITH dim AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM events WHERE event_type <> 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts, d.state, d.valid_from AS state_since
    FROM events p JOIN dim d
      ON d.user_id = p.user_id
     AND p.ts >= d.valid_from
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    WHERE p.event_type = 'purchase'
    """,
)
def q_scd2_point_in_time_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 build + point-in-time join: non-purchase events become a
    type-2 slowly-changing dimension (valid_from = ts, valid_to =
    lead(ts) per user); each purchase joins the interval containing its
    timestamp to recover the user's state at purchase time.

    Differs from `asof_latest_order_before_event` on purpose: that one
    aggregates max(struct) over an inequality join; this one
    materializes versioned intervals first — the warehouse SCD2 idiom —
    so interval containment yields exactly ≤1 match and needs no
    post-join reduction. Shapes: the lead() window and the join hash on
    the SAME user key, so Catalyst plans one user-keyed exchange per
    side; per-user interval counts bound the inequality fan-out. At
    100 TB both sides partition on user_id and nothing is quadratic.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") != "purchase")
        .withColumn("valid_to", F.lead("ts").over(w))
        .select(
            F.col("user_id").alias("d_user_id"),
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "valid_to",
        )
    )
    fact = ev.filter(F.col("event_type") == "purchase")
    return fact.join(
        dim,
        (F.col("d_user_id") == F.col("user_id"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    ).select(
        "event_id",
        "user_id",
        "ts",
        "state",
        F.col("valid_from").alias("state_since"),
    )


@register(
    "time_bucket_rollup_multi",
    """
    WITH b AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bh,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bd,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS bw,
             value
      FROM events
    )
    SELECT CASE WHEN grouping(bh) = 0 THEN 'hour'
                WHEN grouping(bd) = 0 THEN 'day'
                ELSE 'week' END AS gran,
           coalesce(bh, bd, bw) AS bucket_start,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             AS total_value
    FROM b GROUP BY GROUPING SETS ((bh), (bd), (bw))
    """,
)
def q_time_bucket_rollup_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: ONE pass over the
    fact table produces hour, day, AND week grains via GROUPING SETS —
    what a timeseries store maintains as three materialized rollups.

    Catalyst plans GROUPING SETS as a single Expand (3 rows per input
    row, null-ing the unused grain) feeding one hash aggregate with
    map-side partials — one shuffle total vs three separate scans+aggs.
    The grain key is dense (hours of a month), so no skew. Decimal
    partial sums keep the double totals bit-identical to the oracle
    regardless of partition order.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_tb")
    return spark.sql(
        """
        WITH b AS (
          SELECT date_trunc('hour', ts) AS bh,
                 date_trunc('day', ts) AS bd,
                 date_trunc('week', ts) AS bw,
                 value
          FROM events_tb
        )
        SELECT CASE WHEN grouping(bh) = 0 THEN 'hour'
                    WHEN grouping(bd) = 0 THEN 'day'
                    ELSE 'week' END AS gran,
               coalesce(bh, bd, bw) AS bucket_start,
               count(*) AS n_events,
               CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS STRING) AS DOUBLE)
                 AS total_value
        FROM b GROUP BY GROUPING SETS ((bh), (bd), (bw))
        """
    )


@register(
    "bpe_pair_merge_counts",
    """
    WITH words AS (
      SELECT w, count(*) AS wf
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
                    i -> substr(w, CAST(i AS INT), 2))) AS pair, wf
      FROM words WHERE length(w) >= 2
    )
    SELECT pair, CAST(sum(wf) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 50
    """,
)
def q_bpe_pair_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training step 1: corpus-weighted adjacent
    character-pair counts (the statistic a merge round maximizes).

    The classic trick makes this cheap at 100 TB: aggregate to the
    WORD-FREQUENCY dictionary first (vocab ≪ corpus — one shuffle on
    word), then expand each distinct word into its ≤len-1 overlapping
    pairs and weight by frequency — pair expansion touches the vocab,
    not the corpus. `transform(sequence(...))` runs over the already-
    tokenized attribute (never re-split inside a lambda — NOTES rule),
    and the final top-50 is TakeOrdered on the bounded pair vocab with
    a total (n DESC, pair) order, so the boundary is deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "wf",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wf").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


@register(
    "inverted_index_postings",
    """
    WITH perdoc AS (
      SELECT term, doc_id, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY term, doc_id
    )
    SELECT term, CAST(count(*) AS BIGINT) AS df_docs,
           CAST(sum(tf) AS BIGINT) AS tf_total,
           array_to_string(list_slice(list_sort(list(doc_id)), 1, 5), ',')
             AS postings_head
    FROM perdoc GROUP BY term HAVING count(*) >= 30
    """,
)
def q_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (term → document frequency, total term
    frequency, head of the sorted posting list) for corpus search and
    quality triage.

    Scale shape: tokenize once, reduce to (term, doc) term frequencies
    — one term-keyed shuffle with map-side partials — then rank doc_ids
    per term and KEEP ONLY rank ≤ 5 before any collect, so the
    collected posting head is bounded at 5 entries per term no matter
    how common the term is (collect_set of a stopword's full posting
    list would be a driver-killer at 100 TB). The row_number window and
    the final agg reuse the same term partitioning — Catalyst plans one
    exchange for both.
    """
    docs = load_table(spark, sf_dir, "documents")
    perdoc = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    ranked = perdoc.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df_docs"),
            F.sum("tf").alias("tf_total"),
            F.array_join(
                F.expr(
                    "transform(sort_array(collect_list(CASE WHEN rn <= 5 "
                    "THEN doc_id END)), x -> CAST(x AS STRING))"
                ),
                ",",
            ).alias("postings_head"),
        )
        .filter(F.col("df_docs") >= 30)
    )


@register(
    "skew_key_profile",
    """
    WITH counts AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_keys
      FROM counts
    )
    SELECT user_id, n, CAST(n AS DOUBLE) / total AS share,
           CAST(n AS DOUBLE) * n_keys / total AS rel_to_avg
    FROM counts, tot
    ORDER BY n DESC, user_id LIMIT 10
    """,
)
def q_skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the 10 heaviest join/agg keys with their
    corpus share and multiple-of-average — the numbers that decide
    whether a downstream join needs salting or AQE skew handling
    (`salted_skew_join` is the consumer of this diagnosis).

    Shape: one user-keyed partial-agg shuffle; the totals are a 1-row
    aggregate OVER the per-key counts (not a second fact scan) crossed
    back in via broadcast; top-10 is TakeOrdered with a total order.
    Integer-ratio doubles (n/total) are exact in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("share"),
            (F.col("n").cast("double") * F.col("n_keys") / F.col("total")).alias(
                "rel_to_avg"
            ),
        )
        .orderBy(F.desc("n"), "user_id")
        .limit(10)
    )


@register(
    "anomaly_zscore_events",
    """
    WITH s AS (
      SELECT event_type, count(*) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS s1,
             sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
               AS s2
      FROM events GROUP BY event_type
    ),
    m AS (
      SELECT event_type,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n AS mean,
             sqrt((CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                   - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n)
                  / (n - 1)) AS std
      FROM s
    )
    SELECT e.event_id, e.event_type, e.value,
           (e.value - m.mean) / m.std AS z
    FROM events e JOIN m USING (event_type)
    WHERE abs((e.value - m.mean) / m.std) > 3.0
    """,
)
def q_anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical outlier flagging (|z| > 3 per event_type) — the
    numeric analogue of text quality filtering in a curation pipeline.

    Two-pass: tiny per-type moment aggregate (map-side partials, 5
    rows), broadcast back onto the fact scan — no second shuffle. Float
    parity is engineered, not hoped for: the moments are DECIMAL(18,6)
    sums (associative → partition-order independent), and mean/std/z
    are then IEEE double ops over identical operands, so the |z| > 3
    boundary cannot flip between engines. stddev here is the sample
    std via the moment identity, NOT stddev_samp, precisely because the
    builtin's compensated summation is order-dependent.
    """
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,6)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * dec).alias("s2"),
    )
    # decimal → double goes through a STRING cast on BOTH engines:
    # DuckDB's direct decimal→double divides two doubles (two roundings,
    # ±1 ULP vs Java's correctly-rounded BigDecimal.doubleValue), which
    # shifted 32 of 188 z-values by one bit at sf0.01. Decimal-digit
    # strings parse correctly-rounded everywhere (strtod / parseDouble),
    # so the string hop makes the double bit-identical cross-engine.
    s1d = F.col("s1").cast("string").cast("double")
    s2d = F.col("s2").cast("string").cast("double")
    m = s.select(
        "event_type",
        (s1d / F.col("n")).alias("mean"),
        F.sqrt((s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1)).alias("std"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        ev.join(F.broadcast(m), "event_type")
        .select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) > 3.0)
    )


@register(
    "doc_length_histogram",
    """
    SELECT CAST(length(bin(n_chars)) - 1 AS BIGINT) AS log2_bucket,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
    FROM documents GROUP BY log2_bucket
    """,
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2 document-length histogram — the first plot anyone makes of
    a training corpus (truncation/padding budgeting, chunker sizing).

    floor(log2(n)) is computed as length(bin(n)) - 1: integer→binary-
    string length is exact in both engines, where a float log2 at exact
    powers of two could round to 9.999… differently per libm. One
    partial-agg shuffle on ≤64 bucket keys; avg is an exact
    integer-sum / count division.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            (F.length(F.bin("n_chars")) - 1).cast("bigint").alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
                "avg_chars"
            ),
        )
    )


# --------------------------------------------------------------------------
# Third r4 wave: corpus-quality and balance ops over documents/embeddings.
# --------------------------------------------------------------------------


def _lang_pred_sql() -> str:
    """DuckDB CASE chain replicating operators.text.lang_id, generated
    from the SAME STOPWORDS constants (formulas can't drift)."""
    from ..operators.text import STOPWORDS

    langs = sorted(STOPWORDS)

    def hit(lang: str) -> str:
        words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
        return f"len(list_filter(string_split(text, ' '), t -> t IN ({words})))"

    best = "greatest(" + ", ".join(hit(lg) for lg in langs) + ")"
    return (
        "CASE WHEN " + best + " = 0 THEN 'unk' "
        + " ".join(f"WHEN {hit(lg)} = {best} THEN '{lg}'" for lg in langs)
        + " ELSE 'unk' END"
    )


@register(
    "lang_id_confusion",
    f"""
    SELECT lang, {_lang_pred_sql()} AS lang_pred, count(*) AS n_docs
    FROM documents GROUP BY lang, lang_pred
    """,
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: heuristic stopword-hit classifier
    (operators.text.lang_id) against the corpus's labeled `lang` — the
    acceptance report one runs before trusting the classifier to route
    a 100 TB crawl. Pure JVM expressions into a ≤|langs|² hash
    aggregate; one scan, one tiny shuffle."""
    from ..operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "ngram_diversity_by_source",
    """
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    bgs AS (
      SELECT source,
             unnest(list_transform(range(1, len(t)),
                    i -> t[i] || ' ' || t[i+1])) AS bg
      FROM toks WHERE len(t) >= 2
    ),
    cnt AS (SELECT source, bg, count(*) AS c FROM bgs GROUP BY source, bg)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           count(*) AS n_distinct,
           CAST(count(*) AS DOUBLE) / sum(c) AS distinct_ratio,
           CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE) / count(*)
             AS hapax_share
    FROM cnt GROUP BY source
    """,
)
def q_ngram_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU-style diversity audit per source: bigram type/token
    ratio and hapax share — low diversity flags template/boilerplate
    farms before they flood a training mix.

    Tokenize ONCE into an attribute, then a transform lambda builds
    bigrams (never re-split inside the lambda — NOTES rule); two
    partial-agg shuffles, the first keyed (source, bg), the second the
    20-row source rollup. Integer-ratio doubles are exact cross-engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bgs = toks.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> concat(t[i], ' ', t[i + 1]))"
            )
        ).alias("bg"),
    )
    cnt = bgs.groupBy("source", "bg").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("source").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias("distinct_ratio"),
        (
            F.count(F.when(F.col("c") == 1, 1)).cast("double") / F.count(F.lit(1))
        ).alias("hapax_share"),
    )


@register(
    "quality_top_quartile_per_source",
    """
    WITH scored AS (
      SELECT doc_id, source,
        (CAST(len(list_filter(string_split(text, ' '),
              t -> t IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
         / len(string_split(text, ' '))) * 2.0
        + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        - CAST(length(text) -
               length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
          / length(text) AS score
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, score,
        row_number() OVER (PARTITION BY source
                           ORDER BY score DESC, doc_id) AS rn,
        count(*) OVER (PARTITION BY source) AS n
      FROM scored
    )
    SELECT doc_id, source, score, CAST(rn AS BIGINT) AS q_rank
    FROM ranked WHERE rn * 4 <= n
    """,
)
def q_quality_top_quartile_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIVE quality gate: keep each source's top quartile by the
    composite quality score — the complement to absolute-threshold
    filtering (a uniformly low-quality source still contributes its
    best, a high-quality one isn't over-represented).

    One window pass per source partition (row_number + count share the
    partitioning → one exchange); `rn*4 <= n` is the integer form of
    "top 25%" — no float percentile, so the keep boundary is exact in
    both engines. The quality score reuses operators.text.quality_score
    (the oracle SQL is generated against the same constants in
    text_profile; repeated literally here)."""
    from ..operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "source", quality_score("text").alias("score"))
    w = Window.partitionBy("source").orderBy(F.desc("score"), "doc_id")
    wc = Window.partitionBy("source")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") * 4 <= F.col("n"))
        .select("doc_id", "source", "score", F.col("rn").cast("bigint").alias("q_rank"))
    )


@register(
    "source_overlap_matrix",
    """
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM toks WHERE len(t) >= 3
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS shared_shingles
    FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-content overlap (shared distinct trigram
    shingles) — the similarity matrix that informs mixture weights and
    flags mirror/scraper source pairs before near-dup spends compute.

    Scale shape: the self-join key is the SHINGLE after per-source
    distinct — fan-out per shingle is bounded by the number of sources
    sharing it, never by corpus size, so the join output is
    |distinct shingles| × O(sources-sharing²) and the result is the
    tiny source×source matrix. One shuffle for the distinct, one for
    the join, one pairs-count aggregate.

    Measured knob (r4 probe): with content REPLICATED into 10× as many
    sources (the adversarial case — every shingle shared by 10× more
    sources) runtime grows ~4×, i.e. with the sharing-degree square,
    as the formula predicts; at fixed source count it is flat. An
    ubiquity gate (drop shingles present in > half the sources before
    the join — same idea as the LSH mega-bucket gates) was measured
    and REJECTED at this scale: +0.8 s of count+semi-join overhead at
    1× for little relief, because replicated content sits below any
    relative threshold. If source counts grow into the thousands, add
    the gate with an absolute cap instead."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 3
    )
    sh = toks.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2]))"
            )
        ).alias("g"),
    ).distinct()
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )


@register(
    "label_balance_downsample",
    """
    WITH counts AS (
      SELECT label, count(*) AS n FROM embeddings GROUP BY label
    ),
    m AS (SELECT min(n) AS m FROM counts),
    ranked AS (
      SELECT vec_id, label,
        row_number() OVER (PARTITION BY label
                           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM embeddings
    )
    SELECT vec_id, label FROM ranked, m WHERE rn <= m.m
    """,
)
def q_label_balance_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance downsampling: every label keeps exactly
    min-class-count rows, chosen by md5 order — deterministic across
    runs/layouts/retries (content-derived, not partition-derived), so
    a rebalanced training set is reproducible and oracle-able.

    One label-keyed window pass for the ranking; the min-count is a
    1-row aggregate over the ≤|labels| counts, broadcast back. The
    embedding payload never moves — only (vec_id, label) rank."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    m = counts.agg(F.min("n").alias("m"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        emb.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(m))
        .filter(F.col("rn") <= F.col("m"))
        .select("vec_id", "label")
    )


def _cluster_oracle() -> str:
    """The twin must agree with the recursive-CTE connected-components
    oracle EXACTLY as `dedup_cluster_assignment` does — reuse that
    registered SQL verbatim so the two can never drift."""
    from .queries import REGISTRY

    return REGISTRY["dedup_cluster_assignment"][1]


@register("dedup_cluster_pointer_jumping", _cluster_oracle())
def q_dedup_cluster_pointer_jumping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment over the same MinHash-LSH pair graph as
    `dedup_cluster_assignment` via operators.dedup.connected_components,
    whose path-halving shortcut (from round 3 on) is the deep-graph
    scale path — certifies it reaches the identical fixpoint on real
    pairs (its log-round behaviour is certified on a planted 64-edge
    path in tests/test_dedup_similarity.py)."""
    from ..operators.dedup import connected_components, minhash_near_dups

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    pairs = minhash_near_dups(docs, threshold=0.5)
    return connected_components(pairs)


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n_transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user — the behavioral fingerprint behind funnel design
    and bot detection (uniform rows ⇒ random traffic; heavy diagonal ⇒
    replay/bot).

    One user-keyed exchange for the lead() window, then a ≤|types|²
    partial-agg rollup — the same two-shuffle budget as any
    sessionization. Deterministic ordering tie-break on event_id."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@register(
    "nucleus_sample_per_source",
    """
    WITH scored AS (
      SELECT doc_id, source, n_chars,
        row_number() OVER (PARTITION BY source
                           ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, rn,
        sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum_chars,
        sum(n_chars) OVER (PARTITION BY source) AS tot_chars
      FROM scored
    )
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rnk
    FROM cum WHERE cum_chars * 10 <= tot_chars * 8
    """,
)
def q_nucleus_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus-style (top-p) corpus selection: per source, keep the
    largest documents until 80% of the source's total character mass is
    covered — the mass-based complement to count caps (domain_cap) and
    rank gates (quality_top_quartile): sources with a few huge docs
    keep few, long-tail sources keep many.

    The keep predicate is INTEGER arithmetic (`cum*10 <= tot*8`), so
    the 0.8 boundary is exact in both engines — no float cumulative
    ratio. Both windows and the running sum share one source-keyed
    exchange."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    wo = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    wt = Window.partitionBy("source")
    return (
        docs.withColumn("rn", F.row_number().over(wo))
        .withColumn(
            "cum_chars", F.sum("n_chars").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("tot_chars", F.sum("n_chars").over(wt))
        .filter(F.col("cum_chars") * 10 <= F.col("tot_chars") * 8)
        .select("doc_id", "source", F.col("rn").cast("bigint").alias("rnk"))
    )


@register(
    "table_profile_events",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT event_type) AS n_types,
           count(*) - count(value) AS null_values,
           min(ts) AS min_ts, max(ts) AS max_ts,
           min(value) AS min_value, max(value) AS max_value,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             / count(value) AS mean_value
    FROM events
    """,
)
def q_table_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile (row/null/distinct counts, ranges,
    exact mean) — the first query anyone runs against an unknown 100 TB
    table, and the input to partitioning/skew decisions.

    ONE scan, one aggregate: Spark plans the two distinct-counts as an
    Expand (3 rows per input) feeding partial aggregates, so the
    shuffle carries per-partition partials — no second pass, no
    per-column jobs (vs df.summary(), which launches one job per
    statistic). min/max are selections (no float arithmetic); the mean
    goes through the decimal→string→double hop for cross-engine bit
    equality."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        (F.count(F.lit(1)) - F.count("value")).alias("null_values"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("string")
            .cast("double")
            / F.count("value")
        ).alias("mean_value"),
    )


@register(
    "bot_regularity_timing",
    """
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - epoch_us(lag(ts) OVER
                (PARTITION BY user_id ORDER BY ts, event_id))) // 1000000 AS gap_s
      FROM events
    ),
    agg AS (
      SELECT user_id,
             count(*) AS n_events,
             CAST(count(gap_s) AS DECIMAL(9,0)) AS ng,
             CAST(sum(CAST(gap_s AS DECIMAL(18,0))) AS DECIMAL(18,0)) AS s1,
             CAST(sum(CAST(gap_s AS DECIMAL(18,0)) * CAST(gap_s AS DECIMAL(18,0)))
                  AS DECIMAL(18,0)) AS s2
      FROM g GROUP BY user_id HAVING count(*) >= 20
    )
    SELECT user_id, n_events,
           CAST(s1 AS DOUBLE) / CAST(ng AS DOUBLE) AS mean_gap_s,
           sqrt(CAST(CAST(ng * s2 - s1 * s1 AS VARCHAR) AS DOUBLE)
                / CAST(CAST(s1 * s1 AS VARCHAR) AS DOUBLE)) AS gap_cv
    FROM agg
    """,
)
def q_bot_regularity_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection by inter-event TIMING regularity: per
    user, the coefficient of variation of the gaps between consecutive
    events. Scripted traffic fires on near-constant intervals
    (cv → 0); humans are bursty (cv ≳ 1). The complement to
    anomaly_zscore_events (which flags VALUE outliers) and
    event_transition_matrix (which fingerprints SEQUENCES) — together
    the three standard behavioral-triage axes for scrubbing training
    corpora of machine-generated logs.

    Scale shape: the lag window is partitioned by user (bounded rows
    per partition, never corpus-wide); one grouped aggregate after it;
    no second pass. Float parity: gaps are INTEGER seconds; Σg and Σg²
    are DECIMAL partial sums (associative — partition order can't
    change them); cv² = (n·Σg² − (Σg)²)/(Σg)² is pure decimal integer
    arithmetic surfaced through the decimal→string→double hop (the
    anomaly_zscore lesson: direct decimal→double is not correctly
    rounded in DuckDB), and sqrt/divide on identical doubles are
    IEEE-exact. Sums are re-cast to DECIMAL(18,0) BEFORE multiplying:
    both engines cap decimal precision at 38, and 18+18 stays inside
    it while their native sum widths (28 Spark / 38 DuckDB) would not.
    `ng` is DECIMAL(9,0) — wide enough for 10^9−1 gaps per user (a
    narrower 4,0 would silently null in Spark / raise in DuckDB past
    10^4 events per user) while ng·s2 at 9+18 = precision 28 still
    fits the 38 cap.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # `/` then cast("long") == DuckDB's integer `//` here: the µs delta
    # is exact in double (< 2^53) and a 1e-16 rounding error cannot
    # bridge the ≥1e-6 distance to the next integer, so truncation
    # agrees with integer floor for these positive operands
    g = ev.select(
        "user_id",
        (
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            / F.lit(1_000_000)
        ).cast("long").alias("gap_s"),
    )
    agg = (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("gap_s").cast("decimal(9,0)").alias("ng"),
            F.sum(F.col("gap_s").cast("decimal(18,0)"))
            .cast("decimal(18,0)")
            .alias("s1"),
            F.sum(
                F.col("gap_s").cast("decimal(18,0)")
                * F.col("gap_s").cast("decimal(18,0)")
            )
            .cast("decimal(18,0)")
            .alias("s2"),
        )
        .filter(F.col("n_events") >= 20)
    )
    return agg.select(
        "user_id",
        "n_events",
        (F.col("s1").cast("double") / F.col("ng").cast("double")).alias("mean_gap_s"),
        F.sqrt(
            (F.col("ng") * F.col("s2") - F.col("s1") * F.col("s1"))
            .cast("string")
            .cast("double")
            / (F.col("s1") * F.col("s1")).cast("string").cast("double")
        ).alias("gap_cv"),
    )


@register(
    "winsorize_value_per_type",
    """
    WITH ranked AS (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), cuts AS (
      SELECT event_type,
             min(CASE WHEN rn = (n + 19) // 20 THEN value END) AS lo,
             min(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS hi
      FROM ranked GROUP BY event_type
    ), agg AS (
      SELECT e.event_type, c.lo, c.hi, count(*) AS n,
             CAST(count(CASE WHEN e.value < c.lo THEN 1 END) AS BIGINT) AS n_low,
             CAST(count(CASE WHEN e.value > c.hi THEN 1 END) AS BIGINT) AS n_high,
             sum(CAST(e.value AS DECIMAL(18,6))) AS s_before,
             sum(CAST(least(greatest(e.value, c.lo), c.hi) AS DECIMAL(18,6)))
               AS s_after
      FROM events e JOIN cuts c ON e.event_type = c.event_type
      GROUP BY e.event_type, c.lo, c.hi
    )
    SELECT event_type, n, lo, hi, n_low, n_high,
           CAST(CAST(s_before AS VARCHAR) AS DOUBLE) / n AS mean_before,
           CAST(CAST(s_after AS VARCHAR) AS DOUBLE) / n AS mean_after
    FROM agg
    """,
)
def q_winsorize_value_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clamped) value normalization per event type
    — the outlier treatment that PRESERVES rows where anomaly_zscore
    drops them: heavy-tail metric columns get clamped to exact
    rank-selected percentile cutoffs before feeding mixture weights or
    model features, so one 10^6× spike can't dominate a mean. Cutoffs
    are EXACT order statistics picked by integer rank arithmetic
    (lo = ceil(n/20) = (n+19) DIV 20, hi = ceil(19n/20)) — no float
    percentile, no interpolation, so both engines select the identical
    element (the quality_top_quartile_per_source recipe). Means go
    through DECIMAL(18,6) partial sums and the decimal→string→double
    hop (the anomaly_zscore float-parity recipe).

    Scale shape: one per-type rank window finds the two cutoff rows
    (per-group sort; for heavy single types at extreme scale swap this
    stage for the two-pass range-partitioned rank in operators/ranking
    — the clamp stage is shape-identical), cutoffs collapse to 5 rows
    broadcast back onto the fact scan, and the clamped aggregate is
    map-side partial — no second wide exchange."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        ev.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(counts), "event_type")
    )
    cuts = (
        ranked.filter(
            (F.col("rn") == F.expr("(n + 19) DIV 20"))
            | (F.col("rn") == F.expr("(19 * n + 19) DIV 20"))
        )
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(F.col("rn") == F.expr("(n + 19) DIV 20"), F.col("value"))
            ).alias("lo"),
            F.min(
                F.when(F.col("rn") == F.expr("(19 * n + 19) DIV 20"), F.col("value"))
            ).alias("hi"),
        )
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    dec = lambda c: c.cast("decimal(18,6)")  # noqa: E731
    agg = (
        ev.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("value") < F.col("lo"), 1)).alias("n_low"),
            F.count(F.when(F.col("value") > F.col("hi"), 1)).alias("n_high"),
            F.sum(dec(F.col("value"))).alias("s_before"),
            F.sum(dec(clamped)).alias("s_after"),
        )
    )
    return agg.select(
        "event_type",
        "n",
        "lo",
        "hi",
        "n_low",
        "n_high",
        (F.col("s_before").cast("string").cast("double") / F.col("n")).alias(
            "mean_before"
        ),
        (F.col("s_after").cast("string").cast("double") / F.col("n")).alias(
            "mean_after"
        ),
    )


@register(
    "corrupt_json_quarantine",
    """
    WITH aug AS (
      SELECT event_id,
             CASE WHEN event_id % 13 = 0
                  THEN substring(props, 1, length(props) - 2)
                  ELSE props END AS raw
      FROM events
    )
    SELECT event_id, raw
    FROM aug
    WHERE NOT json_valid(raw) OR json_extract(raw, '$.k') IS NULL
    """,
)
def q_corrupt_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine — the dead-letter leg every JSON
    ingest needs (the reference's whole pipeline is schema-on-read
    from_json over Kafka payloads, `sparkpykafkajoin.py:86-101`, but it
    silently nulls malformed rows): rows whose payload fails to parse
    are ROUTED with their raw bytes preserved for replay, instead of
    vanishing into nulls mid-pipeline. Corruption is planted
    deterministically (every 13th event's props loses its last two
    chars) since the synthetic feed is 100% well-formed.

    Parity note: Spark's from_json (PERMISSIVE) yields a null field
    for unparseable input; DuckDB spells the same disposition as NOT
    json_valid OR missing '$.k' — equivalent on any input whose valid
    form always carries k, which the driver MATCH certifies row by
    row.

    Scale shape: one scan, the CASE + parse are row-local JVM codegen
    (from_json, no UDF), and only the ~7.7% quarantined rows leave the
    scan — no shuffle at all in the plan."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "props")
    raw = F.when(
        F.col("event_id") % 13 == 0,
        F.expr("substring(props, 1, length(props) - 2)"),
    ).otherwise(F.col("props"))
    parsed = F.from_json(raw, "k bigint")
    return (
        ev.select("event_id", raw.alias("raw"), parsed.alias("_p"))
        .filter(F.col("_p.k").isNull())
        .select("event_id", "raw")
    )


@register(
    "sensor_gap_interpolation",
    """
    WITH aug AS (
      SELECT event_id, user_id, ts, epoch_us(ts) AS us,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
      FROM events
    ), ctx AS (
      SELECT event_id, user_id, us, v,
        last_value(CASE WHEN v IS NOT NULL
                        THEN struct_pack(t := us, x := v) END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pr,
        first_value(CASE WHEN v IS NOT NULL
                         THEN struct_pack(t := us, x := v) END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx
      FROM aug
    )
    SELECT event_id, user_id,
      CASE
        WHEN pr IS NOT NULL AND nx IS NOT NULL AND (nx).t <> (pr).t THEN
          (pr).x + ((nx).x - (pr).x)
            * (CAST(us - (pr).t AS DOUBLE) / CAST((nx).t - (pr).t AS DOUBLE))
        WHEN pr IS NOT NULL THEN (pr).x
        ELSE (nx).x
      END AS filled
    FROM ctx WHERE v IS NULL
    """,
)
def q_sensor_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing sensor readings — the gap-fill
    every timeseries pipeline runs before feature extraction (the
    reference's domain IS sensor risk scores; a dropped reading must
    not zero a rolling feature). Every 11th event's value is planted
    NULL, then filled per user from the bracketing non-null readings:
    v_prev + (v_next − v_prev)·(t − t_prev)/(t_next − t_prev), with
    forward-fill at the tail and back-fill at the head.

    The bracketing reading and ITS timestamp travel together as one
    struct through IGNORE NULLS window frames (last over preceding,
    first over following) — two frames on the same user-keyed sort, so
    Catalyst plans ONE exchange + one sort for both. Float parity:
    both engines build the identical expression tree over int64 micro
    deltas cast to double, so the interpolated doubles are bit-exact
    (IEEE ops on identical operands — the anomaly_zscore discipline).

    Scale shape: per-user windows (bounded), no second exchange, and
    only the ~9% planted-null rows leave the projection."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    aug = ev.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    sv = F.when(
        F.col("v").isNotNull(), F.struct(F.col("us").alias("t"), F.col("v").alias("x"))
    )
    base = Window.partitionBy("user_id").orderBy("us", "event_id")
    wp = base.rowsBetween(Window.unboundedPreceding, -1)
    wn = base.rowsBetween(1, Window.unboundedFollowing)
    ctx = aug.select(
        "event_id",
        "user_id",
        "us",
        "v",
        F.last(sv, ignorenulls=True).over(wp).alias("pr"),
        F.first(sv, ignorenulls=True).over(wn).alias("nx"),
    )
    frac = (F.col("us") - F.col("pr.t")).cast("double") / (
        F.col("nx.t") - F.col("pr.t")
    ).cast("double")
    # nx.t == pr.t (duplicate bracketing timestamps) would make frac
    # 0/0 — NaN in Spark, engine-defined in DuckDB; fall back to pr.x,
    # guarded identically in both dialects (r5 advice)
    filled = (
        F.when(
            F.col("pr").isNotNull()
            & F.col("nx").isNotNull()
            & (F.col("nx.t") != F.col("pr.t")),
            F.col("pr.x") + (F.col("nx.x") - F.col("pr.x")) * frac,
        )
        .when(F.col("pr").isNotNull(), F.col("pr.x"))
        .otherwise(F.col("nx.x"))
    )
    return ctx.filter(F.col("v").isNull()).select(
        "event_id", "user_id", filled.alias("filled")
    )


#: canonical row serializations for the content digest: every field is
#: rendered through a representation both engines print identically --
#: integers/strings verbatim, timestamps as epoch-micros (double repr
#: and timestamp formatting differ cross-engine; int64 never does).
#: Field delimiter = chr(31) (ASCII unit separator), spelled as a
#: function call so both dialects build the identical byte.  Every
#: field passes through coalesce(..., chr(30)): Spark's concat()
#: NULL-propagates (one NULL field would silently drop the whole row
#: from the digest while still counting in n_rows) whereas DuckDB's
#: concat() skips NULL args -- the chr(30) record-separator sentinel
#: makes NULLs hash deterministically and identically in both engines.
_DIGEST_ROWS = {
    "documents": (
        "concat(coalesce(CAST(doc_id AS STRING), chr(30)), chr(31), "
        "coalesce(md5(text), chr(30)), chr(31), "
        "coalesce(lang, chr(30)), chr(31), "
        "coalesce(source, chr(30)), chr(31), "
        "coalesce(CAST(n_chars AS STRING), chr(30)))"
    ),
    "events": (
        "concat(coalesce(CAST(event_id AS STRING), chr(30)), chr(31), "
        "coalesce(CAST(user_id AS STRING), chr(30)), chr(31), "
        "coalesce(event_type, chr(30)), chr(31), "
        "coalesce(CAST(unix_micros(ts) AS STRING), chr(30)))"
    ),
}


def digest_term(row_expr: str):
    """The per-row digest term: leading 60 bits of md5(canonical row)
    as DECIMAL(38,0). SUM of these IS the table digest — commutative,
    associative, mergeable, so the same Column works batch-side and as
    a plain watermarked streaming aggregation (partials per window,
    finalize by summing partials)."""
    return F.expr(
        f"CAST(CAST(conv(substring(md5({row_expr}), 1, 15), 16, 10) AS BIGINT) "
        f"AS DECIMAL(38,0))"
    )


def _digest_oracle() -> str:
    def duck(expr: str) -> str:
        return expr.replace("unix_micros(ts)", "epoch_us(ts)").replace(
            " AS STRING", " AS VARCHAR"
        )

    def leg(tbl: str) -> str:
        return (
            f"SELECT '{tbl}' AS tbl, count(*) AS n_rows, "
            f"CAST(sum(('0x' || substring(md5({duck(_DIGEST_ROWS[tbl])}), 1, 15))"
            f"::BIGINT::DECIMAL(38,0)) AS VARCHAR) AS digest FROM {tbl}"
        )

    return leg("documents") + " UNION ALL " + leg("events")


@register("table_content_digest", _digest_oracle())
def q_table_content_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content digest -- the replication /
    data-contract verification primitive: after a migration, backfill,
    or engine swap, two sides agree on table content iff their digests
    match, with no sort and no row transfer. Each row canonicalizes to
    a chr(31)-joined string of parity-safe renderings (ints/strings
    verbatim, timestamps as epoch-micros, free text through md5), maps
    to its md5's leading 60 bits, and the digest is the plain SUM of
    those -- addition is commutative/associative, so the result is
    independent of partitioning, ordering, and engine, and DECIMAL(38)
    sums cannot overflow below 10^19 rows. Cross-engine by
    construction: this query's own DuckDB oracle IS the verification
    protocol in action. The digest crosses the result boundary as a
    STRING -- DECIMAL(38,0) survives neither engine's pandas hop
    losslessly (queries.py type-hop convention).

    Scale shape: one scan per table, map-side partial sums, a 2-row
    result. Mergeable: shard digests ADD."""
    parts = []
    for tbl, row_expr in _DIGEST_ROWS.items():
        df = load_table(spark, sf_dir, tbl)
        h = digest_term(row_expr)
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(h).cast("string").alias("digest"),
            ).select(F.lit(tbl).alias("tbl"), "n_rows", "digest")
        )
    return parts[0].unionByName(parts[1])


@register(
    "snapshot_cdc_diff",
    """
    WITH base AS (
      SELECT event_id, user_id, event_type, value, ts FROM events
    ),
    newsnap AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN event_id % 11 = 5 THEN value + 1.5 ELSE value END
               AS value,
             ts
      FROM base WHERE event_id % 7 <> 3
      UNION ALL
      SELECT event_id + 10000000, user_id, event_type, value, ts
      FROM base WHERE event_id % 13 = 7
    ),
    j AS (
      SELECT coalesce(o.event_id, n.event_id) AS event_id,
        CASE
          WHEN o.event_id IS NULL THEN 'insert'
          WHEN n.event_id IS NULL THEN 'delete'
          WHEN o.user_id    IS DISTINCT FROM n.user_id
            OR o.event_type IS DISTINCT FROM n.event_type
            OR o.value      IS DISTINCT FROM n.value
            OR o.ts         IS DISTINCT FROM n.ts THEN 'update'
        END AS change_type
      FROM base o FULL OUTER JOIN newsnap n ON o.event_id = n.event_id
    )
    SELECT event_id, change_type FROM j WHERE change_type IS NOT NULL
    """,
)
def q_snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: full outer join
    on the key, classify each key as insert / delete / update
    (null-safe per-column compare), emit only changed keys — the
    incremental-ingest primitive that turns daily full snapshots into
    a changefeed, and the row-level complement of table_content_digest
    (digest says WHETHER replicas diverged; this says WHICH rows). The
    second snapshot is synthesized deterministically from events
    (drop id%7==3, bump value by exactly 1.5 on id%11==5, re-insert
    id%13==7 shifted +10M) so both engines diff identical inputs;
    +1.5 is exact in binary floating point, so the update detection is
    engine-stable.

    Scale shape: one scan per snapshot, a single key-partitioned full
    outer join (sort-merge, AQE-coalesced), narrow classify, output
    only changed keys. At 100 TB both snapshots are bucketed by key so
    the join is exchange-free, and the per-column compare collapses to
    one md5 row-digest compare (the _DIGEST_ROWS canonicalization)
    when rows are wide."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    return cdc_diff(ev, cdc_synth_next(ev))


def cdc_synth_next(ev: DataFrame) -> DataFrame:
    """The deterministic 'tomorrow' snapshot the CDC queries/tests diff
    against: drop id%7==3, value+1.5 on id%11==5, insert id%13==7
    shifted +10M (see q_snapshot_cdc_diff)."""
    return (
        ev.filter(F.col("event_id") % 7 != 3)
        .withColumn(
            "value",
            F.when(
                F.col("event_id") % 11 == 5, F.col("value") + F.lit(1.5)
            ).otherwise(F.col("value")),
        )
        .unionByName(
            ev.filter(F.col("event_id") % 13 == 7).withColumn(
                "event_id", F.col("event_id") + F.lit(10_000_000)
            )
        )
    )


def cdc_apply(old: DataFrame, new: DataFrame, diff: DataFrame) -> DataFrame:
    """Apply a changefeed to the OLD snapshot: drop deleted/updated
    keys, take inserted/updated rows from the source of the feed — the
    MERGE INTO shape. cdc_apply(old, new, cdc_diff(old, new)) must
    reproduce `new` exactly; the round-trip is certified bit-exactly by
    the content digest in
    tests/test_scale_patterns.py::test_cdc_apply_roundtrip_digest —
    changefeed completeness, not just classification counts. All three
    joins are key equi-joins (semi/anti), co-partitioned with the diff
    itself at scale."""
    gone = diff.filter(F.col("change_type").isin("delete", "update"))
    incoming = diff.filter(F.col("change_type").isin("insert", "update"))
    return old.join(gone, "event_id", "left_anti").unionByName(
        new.join(incoming.select("event_id"), "event_id", "left_semi")
    )


def cdc_diff(ev: DataFrame, new: DataFrame) -> DataFrame:
    """Row-level changefeed between two snapshots keyed on event_id —
    the operator behind snapshot_cdc_diff, reusable on any pair of
    snapshots with the events schema."""
    o, n = ev.alias("o"), new.alias("n")
    joined = o.join(
        n, F.col("o.event_id") == F.col("n.event_id"), "full_outer"
    )
    differs = (
        ~F.col("o.user_id").eqNullSafe(F.col("n.user_id"))
        | ~F.col("o.event_type").eqNullSafe(F.col("n.event_type"))
        | ~F.col("o.value").eqNullSafe(F.col("n.value"))
        | ~F.col("o.ts").eqNullSafe(F.col("n.ts"))
    )
    return (
        joined.select(
            F.coalesce(F.col("o.event_id"), F.col("n.event_id")).alias(
                "event_id"
            ),
            F.when(F.col("o.event_id").isNull(), F.lit("insert"))
            .when(F.col("n.event_id").isNull(), F.lit("delete"))
            .when(differs, F.lit("update"))
            .alias("change_type"),
        )
        .filter(F.col("change_type").isNotNull())
    )


#: one-hour bins for the interval overlap join; all arithmetic in
#: epoch MICROS (exact integers in both engines).
_IVL_W = 3_600_000_000
_IVL_COOLDOWN = 1_200_000_000  # spans extend 20 min past their last event
_IVL_WIN_LEN = 6_000_000_000  # 100-minute maintenance windows


@register(
    "interval_overlap_join",
    f"""
    WITH base AS (
      SELECT user_id, epoch_us(ts) AS us,
             epoch_us(ts) // {_IVL_W} AS hour_idx
      FROM events
    ),
    spans AS (
      SELECT user_id, min(us) AS ss,
             max(us) + {_IVL_COOLDOWN} AS se
      FROM base GROUP BY user_id, hour_idx
    ),
    wins AS (
      SELECT hour_idx AS win_id,
             hour_idx * {_IVL_W} + (hour_idx % 7) * 300000000 AS ws
      FROM (SELECT DISTINCT hour_idx FROM base)
      WHERE substring(md5(CAST(hour_idx AS VARCHAR)), 1, 1)
            IN ('0', '1', '2', '3')
    )
    SELECT s.user_id, s.ss AS span_start_us, w.win_id,
           least(s.se, w.ws + {_IVL_WIN_LEN})
             - greatest(s.ss, w.ws) AS overlap_us
    FROM spans s JOIN wins w
      ON s.ss < w.ws + {_IVL_WIN_LEN} AND w.ws < s.se
    """,
)
def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join — user activity spans (per-user
    per-hour [first event, last event + 20 min cooldown]) against
    deterministic md5-chosen 100-minute maintenance windows, emitting
    exact integer overlap micros. The downtime-impact / ad-attribution
    join neither the binned point-in-interval range join
    (range_join_error_bursts) nor the PIT joins cover: BOTH sides are
    arbitrary intervals.

    The Spark side runs the scalable BINNED scheme: each interval
    explodes to the ≤2 one-hour bins it covers (fan-out bounded by
    ceil(len/W)+1, never data-dependent), the join is a bin EQUI-join
    plus the overlap predicate, and each pair is counted exactly once
    at its first common bin — bin == greatest(start bins) (the
    later-starting interval's start bin is covered by both sides of
    any true overlap). The DuckDB oracle runs the UNBINNED quadratic
    predicate join — their equality certifies the binning scheme
    itself, not just the arithmetic.

    Scale shape: spans = one (user, hour) hash aggregate; windows are
    tiny (≤ distinct hours) and broadcast, so the probe side never
    shuffles for the join (plan-tested: BroadcastHashJoin on the bin,
    no nested-loop). With both sides large, the same bin key becomes
    the shuffle partitioning — still an equi-join, skew bounded by
    bin width."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr(f"unix_micros(ts) DIV {_IVL_W}").alias("hour_idx"),
    )
    spans = base.groupBy("user_id", "hour_idx").agg(
        F.min("us").alias("ss"),
        (F.max("us") + F.lit(_IVL_COOLDOWN)).alias("se"),
    )
    wins = (
        base.select("hour_idx")
        .distinct()
        .filter(
            F.substring(F.md5(F.col("hour_idx").cast("string")), 1, 1).isin(
                "0", "1", "2", "3"
            )
        )
        .select(
            F.col("hour_idx").alias("win_id"),
            (
                F.col("hour_idx") * _IVL_W
                + (F.col("hour_idx") % 7) * 300_000_000
            ).alias("ws"),
        )
        .withColumn("we", F.col("ws") + F.lit(_IVL_WIN_LEN))
    )
    from ..operators.joins import interval_overlap_join

    joined = interval_overlap_join(
        spans, wins, _IVL_W, broadcast_right=True
    )
    return joined.select(
        "user_id",
        F.col("ss").alias("span_start_us"),
        "win_id",
        (
            F.least(F.col("se"), F.col("we"))
            - F.greatest(F.col("ss"), F.col("ws"))
        ).alias("overlap_us"),
    )


@register(
    "weighted_median_doc_length",
    """
    WITH w AS (
      SELECT source, doc_id, n_chars,
        sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum,
        CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT) AS total
      FROM documents WHERE n_chars IS NOT NULL
    )
    SELECT source,
      min(doc_id) FILTER (WHERE 2 * cum >= total) AS median_doc_id,
      min(n_chars) FILTER (WHERE 2 * cum >= total) AS median_n_chars,
      any_value(total) AS total_chars
    FROM (
      SELECT source, doc_id, n_chars, cum, total,
        row_number() OVER (PARTITION BY source
                           ORDER BY (2 * cum >= total) DESC, n_chars, doc_id)
          AS rn
      FROM w
    ) WHERE rn = 1 AND 2 * cum >= total
    GROUP BY source
    """,
)
def q_weighted_median_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-weighted median document length per source: the first
    doc (ordered by n_chars, doc_id) whose cumulative chars reach half
    the source's total — 'half the corpus BYTES live in docs this size
    or smaller', the number that sizes chunking/packing budgets where
    the unweighted median misleads (many tiny docs, few huge ones).
    Pure integer logic (2·cum ≥ total avoids division entirely), so
    the pick is exact and engine-stable; ties broken by doc_id through
    the shared ordering.

    Scale shape: ONE source-partitioned exchange feeds both the
    running cumsum window and the per-source total (window over the
    same partitioning), then a min(struct) aggregate picks the
    qualifying row — no second shuffle, no join back."""
    # NULL n_chars is excluded on BOTH sides: a weightless doc cannot
    # be the mass median, and Spark (NULLS FIRST asc) vs DuckDB
    # (NULLS LAST asc) would order it differently in the cumsum
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    win = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(win.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("n_chars").over(Window.partitionBy("source")).alias("total"),
    )
    qual = w.filter(2 * F.col("cum") >= F.col("total"))
    return (
        qual.groupBy("source")
        .agg(
            F.min(F.struct("n_chars", "doc_id")).alias("m"),
            F.max("total").alias("total_chars"),
        )
        .select(
            "source",
            F.col("m.doc_id").alias("median_doc_id"),
            F.col("m.n_chars").alias("median_n_chars"),
            "total_chars",
        )
    )


_KANON_K = 5


@register(
    "k_anonymity_report",
    f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(count(*) AS BIGINT) AS group_n
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    t AS (SELECT CAST(sum(group_n) AS BIGINT) AS total FROM g)
    SELECT c_nationkey, c_mktsegment, group_n,
           group_n >= {_KANON_K} AS k_anonymous,
           CAST(CASE WHEN group_n < {_KANON_K} THEN group_n ELSE 0 END
                AS BIGINT) AS suppressed_rows,
           (SELECT total FROM t) AS total_rows
    FROM g
    """,
)
def q_k_anonymity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (c_nationkey, c_mktsegment): group sizes, the k>=5 flag, and the
    rows a suppress-below-k release policy would redact — the privacy
    gate a training-data pipeline runs before releasing joined
    demographic slices (companion to pii_redaction, which handles
    direct identifiers; this handles RE-IDENTIFICATION via rare
    attribute combinations). Pure integer counts — exact cross-engine.

    Scale shape: one hash aggregate on the QI tuple + a broadcast
    1-row total (scalar subquery); output is |QI-combinations| rows,
    never data-sized."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_n")
    )
    total = g.agg(F.sum("group_n").alias("total_rows"))
    return g.crossJoin(F.broadcast(total)).select(
        "c_nationkey",
        "c_mktsegment",
        "group_n",
        (F.col("group_n") >= _KANON_K).alias("k_anonymous"),
        F.when(F.col("group_n") < _KANON_K, F.col("group_n"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("suppressed_rows"),
        "total_rows",
    )


_DRIFT_COLS = ["event_id", "user_id", "event_type", "value"]


@register(
    "snapshot_profile_drift",
    """
    WITH p AS (
      SELECT 'old' AS snap, col,
             CAST(n_null AS BIGINT) AS n_null,
             CAST(n_distinct AS BIGINT) AS n_distinct
      FROM (
        SELECT unnest(['event_id','user_id','event_type','value']) AS col,
               unnest([count(*) - count(event_id), count(*) - count(user_id),
                       count(*) - count(event_type), count(*) - count(value)])
                 AS n_null,
               unnest([count(DISTINCT event_id), count(DISTINCT user_id),
                       count(DISTINCT event_type), count(DISTINCT value)])
                 AS n_distinct
        FROM events
      )
      UNION ALL
      SELECT 'new' AS snap, col,
             CAST(n_null AS BIGINT), CAST(n_distinct AS BIGINT)
      FROM (
        SELECT unnest(['event_id','user_id','event_type','value']) AS col,
               unnest([count(*) - count(event_id), count(*) - count(user_id),
                       count(*) - count(event_type), count(*) - count(value)])
                 AS n_null,
               unnest([count(DISTINCT event_id), count(DISTINCT user_id),
                       count(DISTINCT event_type), count(DISTINCT value)])
                 AS n_distinct
        FROM (
          SELECT event_id, user_id, event_type,
                 CASE WHEN event_id % 11 = 5 THEN value + 1.5 ELSE value END
                   AS value
          FROM events WHERE event_id % 7 <> 3
          UNION ALL
          SELECT event_id + 10000000, user_id, event_type, value
          FROM events WHERE event_id % 13 = 7
        )
      )
    )
    SELECT o.col,
           o.n_null AS old_nulls, n.n_null AS new_nulls,
           o.n_distinct AS old_distinct, n.n_distinct AS new_distinct,
           n.n_distinct - o.n_distinct AS distinct_delta
    FROM (SELECT * FROM p WHERE snap = 'old') o
    JOIN (SELECT * FROM p WHERE snap = 'new') n USING (col)
    """,
)
def q_snapshot_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile DRIFT between two snapshots (null counts,
    exact distinct counts, distinct delta) — the data-contract monitor
    that catches schema-semantic regressions a row digest can't
    explain and a CDC diff drowns in row noise: a column suddenly 30%
    NULL, an enum collapsing to one value, an id column losing
    uniqueness. Completes the warehouse monitoring family: quarantine
    (bad rows in), digest (DID replicas diverge), CDC (WHICH rows),
    drift (WHICH columns and HOW). Exact integers throughout.

    Scale shape: ONE pass per snapshot — a single aggregate computes
    every column's null + distinct counts (Expand for the distincts),
    output 4 rows per side, joined on the column name. No
    per-column jobs, no data-sized output."""
    ev = load_table(spark, sf_dir, "events")
    new = cdc_synth_next(ev).drop("ts")

    def profile(df: DataFrame, snap: str) -> DataFrame:
        aggs = []
        for c in _DRIFT_COLS:
            aggs += [
                (F.count(F.lit(1)) - F.count(c)).alias(f"null_{c}"),
                F.countDistinct(c).alias(f"dist_{c}"),
            ]
        stacked = ", ".join(
            f"'{c}', null_{c}, dist_{c}" for c in _DRIFT_COLS
        )
        return df.agg(*aggs).select(
            F.expr(
                f"stack({len(_DRIFT_COLS)}, {stacked}) "
                "AS (col, n_null, n_distinct)"
            )
        ).withColumn("snap", F.lit(snap))
    o, n = profile(ev, "old").alias("o"), profile(new, "new").alias("n")
    return o.join(n, F.col("o.col") == F.col("n.col")).select(
        F.col("o.col").alias("col"),
        F.col("o.n_null").alias("old_nulls"),
        F.col("n.n_null").alias("new_nulls"),
        F.col("o.n_distinct").alias("old_distinct"),
        F.col("n.n_distinct").alias("new_distinct"),
        (F.col("n.n_distinct") - F.col("o.n_distinct")).alias("distinct_delta"),
    )


@register(
    "bigram_lift_collocations",
    """
    WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT unnest(t) AS w FROM t),
    uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    utot AS (SELECT count(*) AS n_uni FROM uni),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(t)),
               i -> {'x': t[i], 'y': t[i + 1]})) AS p
      FROM t WHERE len(t) >= 2
    ), bc AS (
      SELECT p.x AS x, p.y AS y, count(*) AS n_xy FROM pairs GROUP BY 1, 2
    ), btot AS (SELECT count(*) AS n_bg FROM pairs),
    j AS (
      SELECT x, y, n_xy, ux.c AS n_x, uy.c AS n_y
      FROM bc JOIN uc ux ON bc.x = ux.w JOIN uc uy ON bc.y = uy.w
      WHERE n_xy >= 5
    )
    SELECT x, y, CAST(n_xy AS BIGINT) AS n_xy,
           CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
           round(((CAST(n_xy AS DOUBLE) / n_x) / n_y) * n_uni * n_uni
                 / n_bg, 6) AS lift
    FROM j, utot, btot
    ORDER BY lift DESC, x, y LIMIT 50
    """,
)
def q_bigram_lift_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 bigrams by PMI-style lift
    p(xy) / (p(x)·p(y)) with a count floor (n_xy ≥ 5) — the corpus-QA
    report that separates real multi-word expressions from chance
    co-occurrence before building a tokenizer vocabulary or n-gram LM
    on 100 TB of text. Complements ngram_diversity_by_source (volume
    ratios) and top_bigrams (raw frequency): lift normalizes away
    unigram popularity.

    Engine-stable float discipline: every input to the score is an
    exact integer (counts < 2^53); the lift is a FIXED left-to-right
    chain of IEEE double ops — ((n_xy/n_x)/n_y)·N_uni·N_uni/N_bg —
    written identically in both dialects, so each step is correctly
    rounded to the same bits and the final round(·, 6) plus (x, y)
    tie-break makes the top-50 cut deterministic cross-engine.

    Scale shape: tokenize ONCE; bigrams explode as (x, y) structs (no
    re-split of joined strings downstream — NOTES rule). Unigram and
    bigram counts are two partial-agg keyed shuffles; the vocabulary
    joins are plain shuffle hash joins on the word key (the vocab of a
    100 TB corpus does NOT broadcast). Scalar totals attach via 1-row
    broadcast crossJoins. The count floor prunes the hapax long tail
    BEFORE the joins, and the final top-50 is sort+limit —
    TakeOrderedAndProject, per-partition heaps merged on the driver,
    never a single-partition window."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    utot = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    pairs = toks.filter(F.size("t") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS x, t[i + 1] AS y))"
            )
        ).alias("p")
    )
    bc = pairs.groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y")).agg(
        F.count(F.lit(1)).alias("n_xy")
    )
    btot = pairs.agg(F.count(F.lit(1)).alias("n_bg"))
    j = (
        bc.filter(F.col("n_xy") >= 5)
        .join(uc.withColumnRenamed("w", "x").withColumnRenamed("c", "n_x"), "x")
        .join(uc.withColumnRenamed("w", "y").withColumnRenamed("c", "n_y"), "y")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
    )
    lift = F.round(
        ((F.col("n_xy").cast("double") / F.col("n_x")) / F.col("n_y"))
        * F.col("n_uni")
        * F.col("n_uni")
        / F.col("n_bg"),
        6,
    )
    return (
        j.select(
            "x",
            "y",
            F.col("n_xy").cast("long").alias("n_xy"),
            F.col("n_x").cast("long").alias("n_x"),
            F.col("n_y").cast("long").alias("n_y"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "x", "y")
        .limit(50)
    )


@register(
    "data_contract_checks",
    """
    WITH ev AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null_uid,
        CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_neg,
        CAST(sum(CASE WHEN value > 300 THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
        CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS v_dup
      FROM events
    ),
    dc AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS v_len,
        CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS BIGINT) AS v_lang,
        CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS v_dup
      FROM documents
    ),
    fks AS (
      SELECT 'fk_lineitem_orders' AS check_name,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
      FROM lineitem c LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p ON c.l_orderkey = p.k
      UNION ALL SELECT 'fk_lineitem_part', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem c LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p ON c.l_partkey = p.k
      UNION ALL SELECT 'fk_lineitem_supplier', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem c LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) p ON c.l_suppkey = p.k
      UNION ALL SELECT 'fk_orders_customer', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p ON c.o_custkey = p.k
      UNION ALL SELECT 'fk_customer_nation', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p ON c.c_nationkey = p.k
      UNION ALL SELECT 'fk_supplier_nation', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM supplier c LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p ON c.s_nationkey = p.k
      UNION ALL SELECT 'fk_nation_region', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM nation c LEFT JOIN (SELECT DISTINCT r_regionkey AS k FROM region) p ON c.n_regionkey = p.k
      UNION ALL SELECT 'fk_events_customer', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM events c LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p ON c.user_id = p.k
    ),
    allc AS (
      SELECT 'not_null_events_user_id' AS check_name, n AS n_rows, v_null_uid AS n_violations FROM ev
      UNION ALL SELECT 'non_negative_events_value', n, v_neg FROM ev
      UNION ALL SELECT 'range_events_value_le_300', n, v_range FROM ev
      UNION ALL SELECT 'unique_events_event_id', n, v_dup FROM ev
      UNION ALL SELECT 'len_documents_n_chars', n, v_len FROM dc
      UNION ALL SELECT 'accepted_documents_lang', n, v_lang FROM dc
      UNION ALL SELECT 'unique_documents_doc_id', n, v_dup FROM dc
      UNION ALL SELECT check_name, n_rows, n_violations FROM fks
    )
    SELECT check_name, n_rows, n_violations,
      CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
    FROM allc
    """,
)
def q_data_contract_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style data-contract audit in one report: not-null, range,
    accepted-values, primary-key-uniqueness expectations as FUSED
    conditional aggregates (all checks on a table share ONE scan and
    ONE partial-agg reduction — adding a check is free at 100 TB), plus
    referential-integrity checks as per-edge LEFT joins against the
    distinct-projected parent key (orphans = null-parent rows; small
    dims broadcast automatically, fact-fact edges hash-partition on the
    key). The range check (value ≤ 300) is violated by the synthetic
    tail by design, so the report certifies BOTH outcomes — zero and
    non-zero violation paths — not just a wall of zeros. Output is one
    row per check: all-integer, order-free."""
    from pyspark.sql import functions as F

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    ev = load_table(spark, sf_dir, "events")
    dc = load_table(spark, sf_dir, "documents")
    ev_agg = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        viol(F.col("user_id").isNull()).alias("v_null_uid"),
        viol(F.col("value") < 0).alias("v_neg"),
        viol(F.col("value") > 300).alias("v_range"),
        (F.count(F.lit(1)) - F.countDistinct("event_id"))
        .cast("long")
        .alias("v_dup"),
    )
    dc_agg = dc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        viol(F.col("n_chars") != F.length("text")).alias("v_len"),
        viol(~F.col("lang").isin("en", "de", "fr", "es", "zh")).alias(
            "v_lang"
        ),
        (F.count(F.lit(1)) - F.countDistinct("doc_id"))
        .cast("long")
        .alias("v_dup"),
    )
    ev_rows = ev_agg.selectExpr(
        "stack(4, 'not_null_events_user_id', n, v_null_uid,"
        " 'non_negative_events_value', n, v_neg,"
        " 'range_events_value_le_300', n, v_range,"
        " 'unique_events_event_id', n, v_dup)"
        " AS (check_name, n_rows, n_violations)"
    )
    dc_rows = dc_agg.selectExpr(
        "stack(3, 'len_documents_n_chars', n, v_len,"
        " 'accepted_documents_lang', n, v_lang,"
        " 'unique_documents_doc_id', n, v_dup)"
        " AS (check_name, n_rows, n_violations)"
    )

    def fk(name, child, ck, parent, pk):
        pd = parent.select(F.col(pk).alias("_k")).distinct()
        j = child.select(F.col(ck).alias("_ck")).join(
            pd, F.col("_ck") == F.col("_k"), "left"
        )
        return j.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            viol(F.col("_k").isNull()).alias("n_violations"),
        )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    fks = [
        fk("fk_lineitem_orders", li, "l_orderkey", orders, "o_orderkey"),
        fk("fk_lineitem_part", li, "l_partkey",
           load_table(spark, sf_dir, "part"), "p_partkey"),
        fk("fk_lineitem_supplier", li, "l_suppkey",
           load_table(spark, sf_dir, "supplier"), "s_suppkey"),
        fk("fk_orders_customer", orders, "o_custkey", cust, "c_custkey"),
        fk("fk_customer_nation", cust, "c_nationkey", nat, "n_nationkey"),
        fk("fk_supplier_nation",
           load_table(spark, sf_dir, "supplier"), "s_nationkey", nat,
           "n_nationkey"),
        fk("fk_nation_region", nat, "n_regionkey",
           load_table(spark, sf_dir, "region"), "r_regionkey"),
        fk("fk_events_customer", ev, "user_id", cust, "c_custkey"),
    ]
    out = ev_rows.unionByName(dc_rows)
    for f_df in fks:
        out = out.unionByName(f_df)
    return out.select(
        "check_name",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).cast("long").alias("passed"),
    )


_VOCAB_K = 20


@register(
    "vocab_coverage_topk",
    f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    c AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
    v AS (
      SELECT w FROM c
      ORDER BY n DESC, w ASC LIMIT {_VOCAB_K}
    ),
    per_src AS (
      SELECT t.source,
        CAST(count(*) AS BIGINT) AS n_tokens,
        CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM tok t LEFT JOIN v ON v.w = t.w
      GROUP BY t.source
    )
    SELECT source, n_tokens, n_oov,
      round(CAST(n_tokens - n_oov AS DOUBLE) / n_tokens, 6) AS coverage
    FROM per_src
    """,
)
def q_vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing diagnostic: per-source coverage of the corpus's
    top-K vocabulary (K = {K}) — the number that decides whether a
    vocab budget is big enough for every source, and which sources
    will fragment into OOV/subword soup (the per-source complement of
    bpe_pair_merge_counts). Deterministic vocab cut: top-K by
    (count desc, word asc) — the tie-break makes the boundary exact
    cross-engine.

    Scale shape: one token count aggregate (map-side partials), the
    top-K cut is TakeOrderedAndProject over |vocab| rows, and the
    vocab — K rows, by construction TINY — broadcasts into the
    coverage LEFT join; per-source rollup is a |sources|-group
    aggregate. One corpus-keyed exchange total. Integer counts, one
    final division.""".replace("{K}", str(_VOCAB_K))
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    c = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    v = (
        c.orderBy(F.desc("n"), F.asc("w"))
        .limit(_VOCAB_K)
        .select(F.col("w"), F.lit(1).alias("_in"))
    )
    per = (
        tok.join(F.broadcast(v), "w", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per.select(
        "source",
        "n_tokens",
        "n_oov",
        F.round(
            (F.col("n_tokens") - F.col("n_oov")).cast("double")
            / F.col("n_tokens"),
            6,
        ).alias("coverage"),
    )


#: fixed-point scale for incremental-MV value sums: 2^20. floor(v·2^20)
#: is an exact exponent-shift + floor in both engines, and BIGINT sums
#: of the fixed-point values are associative — so the incrementally
#: maintained sum and the recomputed sum are EQUAL, not approximately
#: equal, which is the whole point of verifying maintenance against
#: recompute.
_MV_FIX = 1048576.0


def _mv_vfix(col):
    return F.floor(col * F.lit(_MV_FIX)).cast("bigint")


@register(
    "mv_incremental_maintenance",
    f"""
    WITH newsnap AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CASE WHEN event_id % 11 = 5 THEN value + 1.5 ELSE value END AS v
      FROM events WHERE event_id % 7 <> 3
      UNION ALL
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, value AS v
      FROM events WHERE event_id % 13 = 7
    )
    SELECT event_type, day, count(*) AS cnt,
      CAST(sum(CAST(floor(v * {_MV_FIX}) AS BIGINT)) AS BIGINT) AS sum_vfix
    FROM newsnap GROUP BY event_type, day
    """,
)
def q_mv_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-(type, day)
    count/sum MV is MAINTAINED under the snapshot_cdc_diff change set
    (deletes id%7==3, updates value+1.5 on id%11==5, inserts id%13==7
    shifted +10M) by applying signed deltas — delete = pre-image with
    sign −1, update = pre-image −1 plus post-image +1, insert = +1 —
    merged into the base MV with a full outer join, dropping groups
    whose count reaches zero. The DuckDB oracle RECOMPUTES the MV from
    the new snapshot, so a hash match is the semantic theorem of view
    maintenance (incremental ≡ recompute) checked value-exactly:
    fixed-point BIGINT sums make addition associative, so the delta
    path and the recompute path cannot drift by float re-association.

    Scale shape: the base MV and the delta aggregate are both
    (type, day) hash aggregates with map-side partials; the merge join
    touches only |types|·|days| rows. At 100 TB the base never
    rescans — exactly why MVs are maintained, not recomputed; the
    oracle's recompute is the CHECK, not the plan."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "value",
    )
    base_mv = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(_mv_vfix(F.col("value"))).alias("sum_vfix"),
    )
    removed = ev.filter(
        (F.col("event_id") % 7 == 3)
        | ((F.col("event_id") % 7 != 3) & (F.col("event_id") % 11 == 5))
    ).select("event_type", "day", F.lit(-1).alias("sign"), "value")
    updated = (
        ev.filter((F.col("event_id") % 7 != 3) & (F.col("event_id") % 11 == 5))
        .select(
            "event_type",
            "day",
            F.lit(1).alias("sign"),
            (F.col("value") + F.lit(1.5)).alias("value"),
        )
    )
    inserted = ev.filter(F.col("event_id") % 13 == 7).select(
        "event_type", "day", F.lit(1).alias("sign"), "value"
    )
    delta = (
        removed.unionByName(updated)
        .unionByName(inserted)
        .groupBy("event_type", "day")
        .agg(
            F.sum("sign").alias("dcnt"),
            F.sum(F.col("sign") * _mv_vfix(F.col("value"))).alias("dsum"),
        )
    )
    merged = base_mv.join(delta, ["event_type", "day"], "full_outer").select(
        "event_type",
        "day",
        (F.coalesce(F.col("cnt"), F.lit(0)) + F.coalesce(F.col("dcnt"), F.lit(0))).alias(
            "cnt"
        ),
        (
            F.coalesce(F.col("sum_vfix"), F.lit(0))
            + F.coalesce(F.col("dsum"), F.lit(0))
        ).alias("sum_vfix"),
    )
    return merged.filter(F.col("cnt") > 0)


#: GDPR erasure subjects: identities whose md5 hex digest starts with
#: '0' or '1' — a deterministic, layout-stable 1/8 sample of the key
#: space, the same md5-threshold idiom as the sampling family.
def _erase_pred(col: str) -> str:
    return f"substring(md5(CAST({col} AS VARCHAR)), 1, 1) IN ('0', '1')"


@register(
    "gdpr_erasure_cascade",
    f"""
    WITH ec AS (SELECT c_custkey FROM customer
                WHERE {_erase_pred('c_custkey')}),
    eo AS (SELECT o_orderkey FROM orders
           WHERE o_custkey IN (SELECT c_custkey FROM ec))
    SELECT 'customer' AS tbl,
      (SELECT count(*) FROM ec) AS rows_purged,
      (SELECT count(*) FROM customer) - (SELECT count(*) FROM ec)
        AS rows_retained
    UNION ALL
    SELECT 'orders',
      (SELECT count(*) FROM eo),
      (SELECT count(*) FROM orders) - (SELECT count(*) FROM eo)
    UNION ALL
    SELECT 'lineitem',
      (SELECT count(*) FROM lineitem
       WHERE l_orderkey IN (SELECT o_orderkey FROM eo)),
      (SELECT count(*) FROM lineitem
       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM eo))
    UNION ALL
    SELECT 'events',
      (SELECT count(*) FROM events WHERE {_erase_pred('user_id')}),
      (SELECT count(*) FROM events WHERE NOT ({_erase_pred('user_id')}))
    """,
)
def q_gdpr_erasure_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact report: given a deterministic subject
    set (md5-prefix 1/8 of customer keys), count rows purged vs
    retained across the whole foreign-key cascade — customer directly,
    orders via o_custkey, lineitem TWO hops away via the erased
    orders' keys, and events via the same identity predicate on
    user_id. This is the dry-run every deletion pipeline publishes
    before destructive apply (and the denominator for its completion
    audit).

    Scale shape: one scan per table. The subject set is a fraction of
    the CUSTOMER key space (dimension-sized): it broadcasts to orders;
    the erased-order key set broadcasts to lineitem when it fits, else
    AQE picks a shuffled semi join — both spellings are left-semi /
    left-anti joins, never row-widening. Purged+retained = total is a
    built-in completeness check."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def erased(col):
        return F.substring(F.md5(F.col(col).cast("string")), 1, 1).isin("0", "1")

    ec = cust.filter(erased("c_custkey")).select("c_custkey")
    eo = orders.join(
        F.broadcast(ec), F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    ).select("o_orderkey")

    def report(tbl, purged_df, total_df):
        p = purged_df.agg(F.count(F.lit(1)).alias("rows_purged"))
        t = total_df.agg(F.count(F.lit(1)).alias("_total"))
        return p.crossJoin(t).select(
            F.lit(tbl).alias("tbl"),
            "rows_purged",
            (F.col("_total") - F.col("rows_purged")).alias("rows_retained"),
        )
    li_purged = li.join(
        F.broadcast(eo), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    return (
        report("customer", ec, cust)
        .unionByName(report("orders", eo, orders))
        .unionByName(report("lineitem", li_purged, li))
        .unionByName(report("events", ev.filter(erased("user_id")), ev))
    )


#: heterogeneous JSON payload synthesis for schema inference: five
#: deterministic shapes keyed by event_id % 5, exercising int, string,
#: fractional number, array, null, and boolean leaves under shared and
#: disjoint keys. Spelled once as ANSI SQL fragments usable by both
#: engines (string concatenation + CAST).
_JSON_SHAPES_SQL = """
  CASE event_id % 5
    WHEN 0 THEN '{"k": ' || user_id || ', "tag": "' || event_type || '"}'
    WHEN 1 THEN '{"k": "' || event_type || '", "score": ' || value || '}'
    WHEN 2 THEN '{"k": [' || user_id || ', ' || event_id
                || '], "flags": [true]}'
    WHEN 3 THEN '{"k": null}'
    ELSE '{"k": true, "deleted": false}'
  END
"""


@register(
    "json_schema_inference",
    f"""
    WITH src AS (SELECT {_JSON_SHAPES_SQL} AS j FROM events),
    n AS (SELECT count(*) AS total FROM src),
    kv AS (
      SELECT k AS key,
        CASE coalesce(json_type(src.j::JSON, '$.' || k), 'NULL')
          WHEN 'UBIGINT' THEN 'BIGINT'
          WHEN 'VARCHAR' THEN 'STRING'
          ELSE coalesce(json_type(src.j::JSON, '$.' || k), 'NULL')
        END AS jtype
      FROM src, unnest(json_keys(src.j::JSON)) AS t(k)
    )
    SELECT key, jtype, count(*) AS cnt,
      round(CAST(count(*) AS DOUBLE) / (SELECT total FROM n), 6)
        AS presence_pct
    FROM kv GROUP BY key, jtype
    """,
)
def q_json_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed schema inference over semi-structured payloads — the
    schema-on-read profile (which keys exist, with which JSON types,
    how often) every ingest pipeline runs before writing extraction
    code against an undocumented event stream. Spark side: each row's
    payload parses to a VARIANT and `schema_of_variant` infers its
    per-row type signature; top-level (field, type) pairs are regex-
    exploded and type names canonicalized (any DECIMAL(p,s)/DOUBLE →
    DOUBLE since JSON has one fractional-number type, VOID → NULL,
    ARRAY<t> → ARRAY). The DuckDB oracle infers types through a
    COMPLETELY DIFFERENT mechanism — json_each's type column — so a
    match certifies the inference semantics, not a shared code path.
    Payloads are synthesized deterministically from events (five
    shapes by event_id % 5), exercising type conflicts on a shared key
    ("k" is int, string, array, null, and boolean in different rows).

    Scale shape: one scan, parse + per-row inference + explode into a
    (key, type) hash aggregate of ≤ keys×types rows; the total-count
    scalar broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    src = ev.select(F.expr(_JSON_SHAPES_SQL).alias("j"))
    sig = src.select(
        F.schema_of_variant(F.parse_json("j")).alias("s")
    )
    pair_re = r"[A-Za-z_][A-Za-z0-9_]*: [A-Z]+(?:\([0-9]+,[0-9]+\))?(?:<[A-Z]+>)?"
    pairs = sig.select(
        F.explode(F.regexp_extract_all("s", F.lit(pair_re), F.lit(0))).alias(
            "p"
        )
    )
    raw_t = F.split("p", ": ")[1]
    jtype = (
        F.when(raw_t.startswith("DECIMAL") | (raw_t == "DOUBLE"), "DOUBLE")
        .when(raw_t.startswith("ARRAY"), "ARRAY")
        .when(raw_t == "VOID", "NULL")
        .when(raw_t == "STRING", "STRING")
        .otherwise(raw_t)
    )
    kv = pairs.select(F.split("p", ": ")[0].alias("key"), jtype.alias("jtype"))
    total = src.agg(F.count(F.lit(1)).alias("total"))
    return (
        kv.groupBy("key", "jtype")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            "jtype",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias(
                "presence_pct"
            ),
        )
    )


#: bucket count for the digest drill-down; divergence localizes to
#: event_id % _DRILL_BUCKETS.
_DRILL_BUCKETS = 64


def _drilldown_oracle() -> str:
    row = _DIGEST_ROWS["events"]
    dk = (
        row.replace("unix_micros(ts)", "epoch_us(ts)").replace(
            " AS STRING", " AS VARCHAR"
        )
    )
    term = (
        f"('0x' || substring(md5({dk}), 1, 15))::BIGINT::DECIMAL(38,0)"
    )
    return f"""
    WITH a AS (
      SELECT event_id % {_DRILL_BUCKETS} AS bucket,
        count(*) AS n_a, CAST(sum({term}) AS VARCHAR) AS digest_a
      FROM events GROUP BY 1
    ),
    bad AS (
      SELECT event_id, user_id,
        CASE WHEN event_id % 997 = 42 THEN event_type || '_x'
             ELSE event_type END AS event_type,
        ts
      FROM events WHERE event_id % 811 <> 7
    ),
    b AS (
      SELECT event_id % {_DRILL_BUCKETS} AS bucket,
        count(*) AS n_b, CAST(sum({term}) AS VARCHAR) AS digest_b
      FROM bad GROUP BY 1
    )
    SELECT a.bucket, n_a, n_b, digest_a, digest_b
    FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
    WHERE digest_a IS DISTINCT FROM digest_b
    """


@register("digest_bucket_drilldown", _drilldown_oracle())
def q_digest_bucket_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica-divergence drill-down: when `table_content_digest` says
    two replicas differ, THIS query says WHERE — per-bucket
    (event_id % 64) content digests of both replicas, full-outer
    joined, emitting only buckets whose digests disagree. Repair then
    re-ships 1/64th of the table instead of all of it (recurse with a
    different modulus for finer localization — the digest is a plain
    SUM, so any partitioning of the key space composes). Replica B is
    synthesized deterministically (event_type corrupted on
    id%997==42, rows id%811==7 missing) so both engines diff identical
    replicas; digests cross the result boundary as strings
    (DECIMAL(38,0) type-hop convention).

    Scale shape: one scan per replica into a 64-cell hash aggregate
    with map-side partial sums — same cost as the table digest — and
    a 64-row join. Mergeable: shard-level bucket digests ADD."""
    ev = load_table(spark, sf_dir, "events")
    term = digest_term(_DIGEST_ROWS["events"])
    bucket = (F.col("event_id") % _DRILL_BUCKETS).alias("bucket")
    a = ev.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_a"),
        F.sum(term).cast("string").alias("digest_a"),
    )
    bad = ev.filter(F.col("event_id") % 811 != 7).select(
        "event_id",
        "user_id",
        F.when(
            F.col("event_id") % 997 == 42, F.concat("event_type", F.lit("_x"))
        )
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        "ts",
    )
    b = bad.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum(digest_term(_DIGEST_ROWS["events"])).cast("string").alias(
            "digest_b"
        ),
    )
    return (
        a.join(b, "bucket", "full_outer")
        .filter(~F.col("digest_a").eqNullSafe(F.col("digest_b")))
        .select("bucket", "n_a", "n_b", "digest_a", "digest_b")
    )


@register(
    "scd2_interval_build",
    """
    WITH o AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
        lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY epoch_us(ts), event_id) AS prev
      FROM events
    ),
    ch AS (
      SELECT user_id, event_type, us FROM o
      WHERE prev IS NULL OR event_type <> prev
    ),
    iv AS (
      SELECT user_id, event_type, us AS valid_from_us,
        lead(us) OVER (PARTITION BY user_id ORDER BY us) AS valid_to_us,
        row_number() OVER (PARTITION BY user_id ORDER BY us) AS version
      FROM ch
    )
    SELECT user_id, event_type, valid_from_us, valid_to_us,
      CAST(version AS BIGINT) AS version
    FROM iv
    """,
)
def q_scd2_interval_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 BUILDER: collapse a change-event stream into type-2
    validity intervals — consecutive equal states merge, each state
    change opens a new version row [valid_from, valid_to) with the
    current row open-ended (NULL valid_to) — the write-side complement
    of `scd2_point_in_time_state` (which READS such a table with an
    as-of join). Dimension history tables are built exactly this way
    from CDC feeds. Deduplication of unchanged states (lag compare),
    interval close (lead), and versioning (row_number) all ride ONE
    per-user sort; timestamps stay exact integer microseconds.

    Scale shape: a single user-keyed exchange + sort shared by all
    three window functions (Catalyst plans one Window block); per-user
    frames are bounded by per-entity change counts, the standard SCD
    assumption (entities change, they don't accumulate unboundedly
    faster than retention)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    o = ev.withColumn("prev", F.lag("event_type").over(w))
    ch = o.filter(
        F.col("prev").isNull() | (F.col("event_type") != F.col("prev"))
    ).select("user_id", "event_type", "us")
    w2 = Window.partitionBy("user_id").orderBy("us")
    return ch.select(
        "user_id",
        "event_type",
        F.col("us").alias("valid_from_us"),
        F.lead("us").over(w2).alias("valid_to_us"),
        F.row_number().over(w2).cast("bigint").alias("version"),
    )


@register(
    "fk_orphan_report",
    """
    SELECT 'orders.o_custkey->customer' AS fk,
      (SELECT count(*) FROM orders) AS n_child,
      (SELECT count(*) FROM orders
       WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
      (SELECT count(*) FROM lineitem),
      (SELECT count(*) FROM lineitem
       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
      (SELECT count(*) FROM lineitem),
      (SELECT count(*) FROM lineitem
       WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
      (SELECT count(*) FROM lineitem),
      (SELECT count(*) FROM lineitem
       WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
    UNION ALL
    SELECT 'events.user_id->customer',
      (SELECT count(*) FROM events),
      (SELECT count(*) FROM events
       WHERE user_id NOT IN (SELECT c_custkey FROM customer))
    """,
)
def q_fk_orphan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every foreign-key edge the
    schema implies — orphan counts per relationship (child rows whose
    key has no parent), the first thing a warehouse data-contract
    suite checks after load and the cross-TABLE complement of
    `data_contract_checks`' single-table expectations. Also documents
    which identity spaces are actually linked: events.user_id is
    checked against the customer key space and its orphan count states
    the (synthetic) coverage of that linkage rather than assuming it.

    Scale shape: one scan per child table with a LEFT ANTI join
    against the parent's key projection — dimension parents broadcast;
    the lineitem→orders edge is a key-partitioned shuffled anti join
    (both sides fact-scale, bucketable at 100 TB). Counts are
    map-side partial aggregates."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    ev = load_table(spark, sf_dir, "events")

    def leg(fk, child, key, parent, pkey, broadcast_parent=True):
        p = F.broadcast(parent) if broadcast_parent else parent
        orphans = child.join(
            p, F.col(key) == F.col(pkey), "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        total = child.agg(F.count(F.lit(1)).alias("n_child"))
        return total.crossJoin(orphans).select(
            F.lit(fk).alias("fk"), "n_child", "n_orphans"
        )

    return (
        leg(
            "orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"
        )
        .unionByName(
            leg(
                "lineitem.l_orderkey->orders",
                li,
                "l_orderkey",
                orders.select("o_orderkey"),
                "o_orderkey",
                broadcast_parent=False,
            )
        )
        .unionByName(
            leg("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey")
        )
        .unionByName(
            leg(
                "lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"
            )
        )
        .unionByName(
            leg("events.user_id->customer", ev, "user_id", cust, "c_custkey")
        )
    )


#: encoding-advisor column inventory: (table, columns profiled)
_ADVISE_COLS = {
    "events": ["event_type", "user_id", "value", "props"],
    "documents": ["lang", "source", "text"],
    "orders": ["o_orderstatus", "o_orderpriority", "o_custkey"],
    "lineitem": ["l_returnflag", "l_linestatus", "l_quantity"],
}


def _advisor_oracle() -> str:
    legs = []
    for tbl, cols in _ADVISE_COLS.items():
        for c in cols:
            legs.append(
                f"SELECT '{tbl}' AS tbl, '{c}' AS col,"
                f" CAST(count(*) AS BIGINT) AS n,"
                f" CAST(count(DISTINCT {c}) AS BIGINT) AS ndv"
                f" FROM {tbl}"
            )
    return f"""
    WITH s AS ({" UNION ALL ".join(legs)})
    SELECT tbl, col, n, ndv,
      round(CAST(ndv AS DOUBLE) / n, 6) AS ndv_ratio,
      CASE WHEN ndv * 100 < n THEN 'dictionary'
           WHEN ndv * 2 < n THEN 'maybe-dictionary'
           ELSE 'plain' END AS advice
    FROM s
    """


@register("encoding_advisor", _advisor_oracle())
def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-encoding advisor: exact NDV/row ratios for the columns a
    parquet writer must choose encodings for, with the standard
    advice thresholds (NDV < 1% of rows → dictionary-encode;
    < 50% → maybe; else plain) — the write-side layout tuning report
    that decides scan cost for everything downstream (a mis-encoded
    high-cardinality column bloats dictionaries; a plain-encoded
    low-cardinality one wastes 10-100× space). Thresholds compare by
    cross-multiplication (ndv·100 < n) so classification is
    integer-exact.

    Scale shape: one scan PER TABLE computing all of its columns'
    distinct counts in a single multi-distinct aggregate (Catalyst
    expands once, map-side partials); output is |columns| rows."""
    parts = []
    for tbl, cols in _ADVISE_COLS.items():
        df = load_table(spark, sf_dir, tbl)
        agg = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            *[
                F.countDistinct(c).cast("bigint").alias(f"ndv_{c}")
                for c in cols
            ],
        )
        for c in cols:
            parts.append(
                agg.select(
                    F.lit(tbl).alias("tbl"),
                    F.lit(c).alias("col"),
                    "n",
                    F.col(f"ndv_{c}").alias("ndv"),
                )
            )
    from functools import reduce

    s = reduce(lambda a, b: a.unionByName(b), parts)
    advice = (
        F.when(F.col("ndv") * 100 < F.col("n"), "dictionary")
        .when(F.col("ndv") * 2 < F.col("n"), "maybe-dictionary")
        .otherwise("plain")
    )
    return s.select(
        "tbl",
        "col",
        "n",
        "ndv",
        F.round(F.col("ndv").cast("double") / F.col("n"), 6).alias(
            "ndv_ratio"
        ),
        advice.alias("advice"),
    )


@register(
    "duplicate_payment_pairs",
    """
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS us,
        CAST(round(value * 100) AS BIGINT) AS cv
      FROM events WHERE value IS NOT NULL
    )
    SELECT a.user_id, a.cv AS cents,
      a.event_id AS event_a, b.event_id AS event_b,
      CAST(b.us - a.us AS BIGINT) AS gap_us
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND a.cv = b.cv
     AND a.event_id < b.event_id
     AND abs(b.us - a.us) <= 86400000000
    """,
)
def q_duplicate_payment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-charge detector: two events by the SAME user with the
    SAME cents amount within 24 hours — the double-submit /
    retry-without-idempotency audit every payments warehouse runs
    daily. The join key is (user, cents) — an equi-key, so candidate
    pairs are bounded by Σ group² over user×amount groups (naturally
    tiny: an amount repeating for one user is itself the anomaly) and
    the time predicate only filters within groups; integer microsecond
    gap output. Non-vacuous at sf0.01 (3 pairs).

    Scale shape: one self equi-join on (user_id, cents) — hash
    partitionable, no range-join fan-out since the equi-key is the
    selective part; at 100 TB add a day-bucket to the key to bound
    clock-distant pairs at the scan."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("us"),
            F.round(F.col("value") * 100).cast("bigint").alias("cv"),
        )
    )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.event_id") < F.col("b.event_id"))
            & (
                F.abs(F.col("b.us") - F.col("a.us"))
                <= F.lit(86_400_000_000)
            ),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.cv").alias("cents"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
            (F.col("b.us") - F.col("a.us")).cast("bigint").alias("gap_us"),
        )
    )


@register(
    "cohens_kappa_lang_id",
    f"""
    WITH conf AS (
      SELECT lang, {{pred}} AS lang_pred, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, lang_pred
    ),
    rows_m AS (SELECT lang AS lbl, CAST(sum(n) AS BIGINT) AS r
               FROM conf GROUP BY 1),
    cols_m AS (SELECT lang_pred AS lbl, CAST(sum(n) AS BIGINT) AS c
               FROM conf GROUP BY 1),
    tots AS (
      SELECT CAST(sum(n) AS BIGINT) AS nn,
        CAST(sum(CASE WHEN lang = lang_pred THEN n ELSE 0 END) AS BIGINT)
          AS agree
      FROM conf
    ),
    src AS (
      -- HUGEINT: r·c and N² overflow BIGINT near N ≈ 3e9 documents
      SELECT CAST(sum(CAST(rows_m.r AS HUGEINT) * cols_m.c) AS HUGEINT) AS s
      FROM rows_m JOIN cols_m USING (lbl)
    )
    SELECT tots.nn AS n_docs, tots.agree AS n_agree,
      round(CAST(tots.agree AS DOUBLE) / tots.nn, 6) AS po,
      round(CAST(CAST(src.s AS VARCHAR) AS DOUBLE)
            / (CAST(tots.nn AS DOUBLE) * tots.nn), 6) AS pe,
      round(CAST(CAST(CAST(tots.nn AS HUGEINT) * tots.agree - src.s
                      AS VARCHAR) AS DOUBLE)
            / CAST(CAST(CAST(tots.nn AS HUGEINT) * tots.nn - src.s
                        AS VARCHAR) AS DOUBLE), 6) AS kappa
    FROM tots, src
    """.format(pred=_lang_pred_sql()),
)
def q_cohens_kappa_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the heuristic language classifier and the
    labeled `lang` — the chance-corrected AGREEMENT summary of
    lang_id_confusion's matrix (raw accuracy po rewards a classifier
    that parrots the majority class; kappa subtracts the marginal-
    product chance rate pe). The single go/no-go number an ingest
    pipeline thresholds before trusting the classifier to route a
    crawl.

    Exactness: kappa = (N·agree − Σ r·c)/(N² − Σ r·c) on exact BIGINT
    cell counts and marginals — integer until three final double
    divisions (round-6).

    Scale shape: one scan into a ≤|langs|² hash aggregate (the
    confusion build lang_id_confusion already certifies), then all
    arithmetic on ≤|langs| rows; the marginal join is |langs|-sized."""
    from ..operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents")
    conf = (
        docs.select("lang", lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows_m = conf.groupBy(F.col("lang").alias("lbl")).agg(
        F.sum("n").alias("r")
    )
    cols_m = conf.groupBy(F.col("lang_pred").alias("lbl")).agg(
        F.sum("n").alias("c")
    )
    tots = conf.agg(
        F.sum("n").alias("nn"),
        F.sum(
            F.when(F.col("lang") == F.col("lang_pred"), F.col("n")).otherwise(
                0
            )
        ).alias("agree"),
    )
    # decimal(38,0) mirrors the oracle's HUGEINT: r·c and N² overflow
    # int64 near N ≈ 3e9 documents; string→double is the established
    # exact crossing (degree_assortativity_copurchase discipline)
    dec = "decimal(38,0)"
    src = (
        rows_m.join(F.broadcast(cols_m), "lbl")
        .agg(F.sum(F.col("r").cast(dec) * F.col("c")).alias("s"))
    )
    nn_d = F.col("nn").cast(dec)
    return tots.crossJoin(F.broadcast(src)).select(
        F.col("nn").alias("n_docs"),
        F.col("agree").alias("n_agree"),
        F.round(F.col("agree").cast("double") / F.col("nn"), 6).alias("po"),
        F.round(
            F.col("s").cast("string").cast("double")
            / (F.col("nn").cast("double") * F.col("nn")),
            6,
        ).alias("pe"),
        F.round(
            (nn_d * F.col("agree") - F.col("s"))
            .cast("string")
            .cast("double")
            / (nn_d * F.col("nn") - F.col("s"))
            .cast("string")
            .cast("double"),
            6,
        ).alias("kappa"),
    )


@register(
    "l_diversity_report",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
        CAST(count(*) AS BIGINT) AS group_n,
        CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
          AS BIGINT) AS l_distinct
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    m AS (SELECT min(l_distinct) AS min_l FROM g)
    SELECT g.c_nationkey, g.c_mktsegment, g.group_n, g.l_distinct,
      CASE WHEN g.l_distinct >= 3 THEN 1 ELSE 0 END AS meets_l3,
      m.min_l
    FROM g, m
    ORDER BY g.c_nationkey, g.c_mktsegment
    """,
)
def q_l_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-l-diversity over the SAME (nation, mktsegment)
    equivalence classes as k_anonymity_report: k-anonymity alone
    leaves the homogeneity attack open (a class of 50 that all share
    one salary bucket reveals the salary without re-identification);
    l counts DISTINCT sensitive values (account-balance k$-bucket,
    exact floor) per class, flags classes below l = 3, and carries
    the table-wide minimum — the one number a release gate thresholds.

    Exactness: counts and distinct counts of exact integer buckets
    (floor(acctbal/1000) on DECIMAL input is engine-stable); no
    floating assembly at all.

    Scale shape: one hash aggregate to ≤|nations|·|segments| rows,
    then a broadcast 1-row min join. The distinct-count is per-group
    (partial_count over (class, bucket)) — no global structure."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_n"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("bigint")
        ).alias("l_distinct"),
    )
    m = g.agg(F.min("l_distinct").alias("min_l"))
    return (
        g.crossJoin(F.broadcast(m))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_n",
            "l_distinct",
            F.when(F.col("l_distinct") >= 3, 1)
            .otherwise(0)
            .alias("meets_l3"),
            "min_l",
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


@register(
    "t_closeness_report",
    """
    WITH c AS (
      SELECT c_nationkey, c_mktsegment,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b
      FROM customer
    ),
    gb AS (SELECT b, CAST(count(*) AS BIGINT) AS g FROM c GROUP BY b),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
    cls AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS nc
      FROM c GROUP BY 1, 2
    ),
    cb AS (
      SELECT c_nationkey, c_mktsegment, b, CAST(count(*) AS BIGINT) AS cnt
      FROM c GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT cls.c_nationkey, cls.c_mktsegment, cls.nc, gb.b, gb.g,
        coalesce(cb.cnt, 0) AS cnt
      FROM cls CROSS JOIN gb
      LEFT JOIN cb ON cb.c_nationkey = cls.c_nationkey
        AND cb.c_mktsegment = cls.c_mktsegment AND cb.b = gb.b
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, nc, b,
        sum(cnt * nn.n - g * nc) OVER (
          PARTITION BY c_nationkey, c_mktsegment ORDER BY b) AS d,
        max(b) OVER () AS bmax, min(b) OVER () AS bmin
      FROM grid, nn
    ),
    emd AS (
      SELECT c_nationkey, c_mktsegment, nc,
        CAST(sum(abs(d)) AS BIGINT) AS s,
        max(bmax - bmin) AS m1
      FROM cum WHERE b < bmax GROUP BY 1, 2, 3
    )
    SELECT emd.c_nationkey, emd.c_mktsegment, emd.nc AS group_n,
      round(CAST(emd.s AS DOUBLE) / (CAST(emd.nc AS DOUBLE) * nn.n * emd.m1),
            6) AS emd_t,
      CASE WHEN CAST(emd.s AS DOUBLE)
                / (CAST(emd.nc AS DOUBLE) * nn.n * emd.m1) <= 0.2
           THEN 1 ELSE 0 END AS meets_t02
    FROM emd, nn
    ORDER BY emd.c_nationkey, emd.c_mktsegment
    """,
)
def q_t_closeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness over the SAME (nation, mktsegment) classes as
    k_anonymity_report / l_diversity_report — completing the classic
    privacy triad: k says classes are big, l says sensitive values
    are varied, t says the class's sensitive DISTRIBUTION stays close
    to the table-wide one (an l-diverse class that is 90% one bucket
    still leaks). Distance = the standard ordered-attribute EMD
    (Li et al. '07): Σ|cumulative difference| over the acctbal
    k$-bucket axis, normalized by the bucket span, flagged at
    t = 0.2.

    Exactness: cumulative differences clear both denominators via
    cnt·N − g·n_c (exact BIGINTs, ≤ n_c·N ~ 2e8 at sf0.1); the EMD is
    an integer sum with ONE final double division (round-6) — the
    wasserstein_click_vs_view discipline applied per class.

    Scale shape: two hash aggs (global buckets ≤ 11 rows broadcast,
    class×bucket cells), a broadcast grid join to zero-fill, and
    per-class cumulative windows over ≤ 11-row partitions (the
    windowspec opens with the class columns — never global)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("bigint")
        .alias("b"),
    )
    gb = cust.groupBy("b").agg(F.count(F.lit(1)).alias("g"))
    nn = cust.agg(F.count(F.lit(1)).alias("n"))
    cls = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("nc")
    )
    cb = (
        cust.groupBy("c_nationkey", "c_mktsegment", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("c_nationkey").alias("_nk"),
            F.col("c_mktsegment").alias("_ms"),
            F.col("b").alias("_b"),
            "cnt",
        )
    )
    grid = (
        cls.crossJoin(F.broadcast(gb))
        .join(
            cb,
            (F.col("_nk") == F.col("c_nationkey"))
            & (F.col("_ms") == F.col("c_mktsegment"))
            & (F.col("_b") == F.col("b")),
            "left",
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "nc",
            "b",
            "g",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
        .crossJoin(F.broadcast(nn))
    )
    span = gb.agg(
        (F.max("b") - F.min("b")).alias("m1"), F.max("b").alias("bmax")
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "nc",
        "b",
        F.sum(
            F.col("cnt") * F.col("n") - F.col("g") * F.col("nc")
        )
        .over(w)
        .alias("d"),
        "n",
    ).crossJoin(F.broadcast(span))
    emd = (
        cum.filter(F.col("b") < F.col("bmax"))
        .groupBy("c_nationkey", "c_mktsegment", "nc", "n", "m1")
        .agg(F.sum(F.abs(F.col("d"))).alias("s"))
    )
    t = F.col("s").cast("double") / (
        F.col("nc").cast("double") * F.col("n") * F.col("m1")
    )
    return emd.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("nc").alias("group_n"),
        F.round(t, 6).alias("emd_t"),
        F.when(t <= 0.2, 1).otherwise(0).alias("meets_t02"),
    ).orderBy("c_nationkey", "c_mktsegment")
