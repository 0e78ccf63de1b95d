"""Round-10 statistics wave: changepoint, paired-classifier, and
regression-diagnostic tests the r9 families still lacked — each with
the repo's exact-arithmetic discipline (integer partial sums, one
shared IEEE expression at the end, round-6) and a full DuckDB oracle.

No counterpart in the reference (three linear streaming scripts,
SURVEY.md §2); build-brief analytics extensions. Registered by the
`from . import stats_r10` at the bottom of plans.queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import load_table
from .copurchase import copurchase_edges
from .queries import register

_DAY = "unix_micros(ts) div 86400000000"
_DAY_SQL = "epoch_ns(ts) // 1000 // 86400000000"


def _daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.expr(_DAY).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("v"))
    )


@register(
    "pettitt_changepoint_daily",
    f"""
    WITH dv AS (
      SELECT {_DAY_SQL} AS day, CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    ut AS (
      SELECT t.day AS day,
        CAST(sum(CASE WHEN j.v > i.v THEN 1
                      WHEN j.v < i.v THEN -1 ELSE 0 END) AS BIGINT) AS u_t
      FROM dv t
      JOIN dv i ON i.day <= t.day
      JOIN dv j ON j.day > t.day
      GROUP BY t.day
    ),
    k AS (SELECT max(abs(u_t)) AS kmax FROM ut)
    SELECT day, u_t, abs(u_t) AS abs_u,
      abs(u_t) = kmax AS is_changepoint
    FROM ut, k
    """,
)
def q_pettitt_changepoint_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pettitt rank-based changepoint test on the daily event volume:
    U_t = ΣΣ sign(v_j − v_i) over pairs straddling t; the split
    maximizing |U_t| is the single most likely changepoint — the
    NONPARAMETRIC twin of cusum_changepoint (CUSUM reacts to mean
    shifts in original units; Pettitt is outlier-immune, reacting to
    rank shifts — drift triage wants both). Emits the full U_t curve
    with the argmax flagged, so the oracle certifies every statistic,
    not one winner.

    Exactness: U_t are pure integer sign sums — no float anywhere.

    Scale shape: one corpus hash agg to the ~|days| frame; the triple
    day join is calendar-bounded (≤ |days|³ ≈ 27k rows at 30 days —
    broadcast, never corpus-proportional)."""
    dv = _daily_volume(spark, sf_dir)
    t, i, j = dv.alias("t"), dv.alias("i"), dv.alias("j")
    ut = (
        t.join(F.broadcast(i), F.col("i.day") <= F.col("t.day"))
        .join(F.broadcast(j), F.col("j.day") > F.col("t.day"))
        .groupBy(F.col("t.day").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("j.v") > F.col("i.v"), 1)
                .when(F.col("j.v") < F.col("i.v"), -1)
                .otherwise(0)
            ).alias("u_t")
        )
    )
    k = ut.agg(F.max(F.abs(F.col("u_t"))).alias("kmax"))
    return ut.crossJoin(F.broadcast(k)).select(
        "day",
        "u_t",
        F.abs(F.col("u_t")).alias("abs_u"),
        (F.abs(F.col("u_t")) == F.col("kmax")).alias("is_changepoint"),
    )


def _lang_pred_sql_on(col_expr: str) -> str:
    """The warehouse._lang_pred_sql CASE chain, parameterized on the
    text expression (same STOPWORDS constants — formulas can't
    drift)."""
    from ..operators.text import STOPWORDS

    langs = sorted(STOPWORDS)

    def hit(lang: str) -> str:
        words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
        return (
            f"len(list_filter(string_split({col_expr}, ' '), "
            f"t -> t IN ({words})))"
        )

    best = "greatest(" + ", ".join(hit(lg) for lg in langs) + ")"
    return (
        "CASE WHEN " + best + " = 0 THEN 'unk' "
        + " ".join(
            f"WHEN {hit(lg)} = {best} THEN '{lg}'" for lg in langs
        )
        + " ELSE 'unk' END"
    )


@register(
    "mcnemar_langid_full_vs_head",
    f"""
    WITH pred AS (
      SELECT lang,
        {_lang_pred_sql_on('text')} AS p_full,
        {_lang_pred_sql_on(
            "array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')"
        )} AS p_head
      FROM documents
    ),
    cells AS (
      SELECT
        CAST(sum(CASE WHEN p_full = lang AND p_head <> lang
                 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        CAST(sum(CASE WHEN p_full <> lang AND p_head = lang
                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(sum(CASE WHEN p_full = lang AND p_head = lang
                 THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
        CAST(sum(CASE WHEN p_full <> lang AND p_head <> lang
                 THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong
      FROM pred
    )
    SELECT b, c, both_right, both_wrong,
      CASE WHEN b + c = 0 THEN 0.0
           ELSE round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
                      / (b + c), 6) END AS chi2_cc
    FROM cells
    """,
)
def q_mcnemar_langid_full_vs_head(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """McNemar paired test: does the stopword language classifier on
    FULL text beat the same classifier reading only the first 10
    tokens? Paired on documents (the correct design — the two
    classifiers see the same items, so two_proportion_ztest would be
    wrong here); χ² with continuity correction from the b/c discordant
    cells. The latency-vs-accuracy question every ingest router asks:
    can we classify on a prefix?

    Exactness: b/c/agreement cells are exact BIGINTs; χ² is one
    division, round-6.

    Scale shape: one scan, two classifier expressions per row (JVM
    CASE chains), one 4-cell aggregate."""
    from ..operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        "text",
        F.expr(
            "array_join(slice(split(text, ' '), 1, 10), ' ')"
        ).alias("head10"),
    )
    pred = docs.select(
        "lang",
        lang_id("text").alias("p_full"),
        lang_id("head10").alias("p_head"),
    )
    full_ok = F.col("p_full") == F.col("lang")
    head_ok = F.col("p_head") == F.col("lang")
    cells = pred.agg(
        F.sum((full_ok & ~head_ok).cast("bigint")).alias("b"),
        F.sum((~full_ok & head_ok).cast("bigint")).alias("c"),
        F.sum((full_ok & head_ok).cast("bigint")).alias("both_right"),
        F.sum((~full_ok & ~head_ok).cast("bigint")).alias("both_wrong"),
    )
    d = F.abs(F.col("b") - F.col("c")) - 1
    return cells.select(
        "b",
        "c",
        "both_right",
        "both_wrong",
        F.when(F.col("b") + F.col("c") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                (d * d).cast("double") / (F.col("b") + F.col("c")), 6
            )
        )
        .alias("chi2_cc"),
    )


@register(
    "cochrans_q_purchase_dow",
    f"""
    WITH pu AS (
      SELECT DISTINCT user_id, ({_DAY_SQL}) % 7 AS dow
      FROM events WHERE event_type = 'purchase'
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    dows AS (SELECT unnest(generate_series(0, 6)) AS dow),
    grid AS (
      SELECT u.user_id, d.dow,
        CASE WHEN pu.user_id IS NOT NULL THEN 1 ELSE 0 END AS a
      FROM users u CROSS JOIN dows d
      LEFT JOIN pu ON pu.user_id = u.user_id AND pu.dow = d.dow
    ),
    rt AS (SELECT user_id, CAST(sum(a) AS BIGINT) AS ri
           FROM grid GROUP BY user_id),
    ct AS (SELECT dow, CAST(sum(a) AS BIGINT) AS cj
           FROM grid GROUP BY dow),
    s AS (
      SELECT CAST(7 AS BIGINT) AS k,
        (SELECT CAST(sum(cj * cj) AS BIGINT) FROM ct) AS sc2,
        (SELECT CAST(sum(cj) AS BIGINT) FROM ct) AS sc,
        (SELECT CAST(sum(ri * ri) AS BIGINT) FROM rt) AS sr2
    )
    SELECT k, sc AS n_marks, sc2, sr2,
      round(CAST((k - 1) * (k * sc2 - sc * sc) AS DOUBLE)
            / (k * sc - sr2), 6) AS q_stat
    FROM s
    """,
)
def q_cochrans_q_purchase_dow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran's Q: do purchase propensities differ across the 7 days
    of week, treating each USER as a matched block (did user i
    purchase on dow j at least once)? The k-sample extension of
    McNemar and the BINARY analogue of friedman_event_counts (which
    ranks counts; Q tests the yes/no panel) — the within-subject
    design that removes user-level heterogeneity a naive per-dow
    proportion comparison confounds.

    Exactness: Q = (k−1)(kΣCj² − (ΣCj)²)/(kΣRi − ΣRi²) on exact
    BIGINT marginals (ΣRi = ΣCj), one division, round-6.

    Scale shape: one filtered scan into a per-(user, dow) distinct
    (hash agg), dense 7-col grid via a broadcast dow spine, then
    |users|- and 7-row marginal aggregates."""
    ev = load_table(spark, sf_dir, "events")
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", (F.expr(_DAY) % 7).alias("dow"))
        .distinct()
        .withColumn("a", F.lit(1))
    )
    users = ev.select("user_id").distinct()
    dows = spark.range(7).select(F.col("id").cast("bigint").alias("dow"))
    grid = (
        users.crossJoin(F.broadcast(dows))
        .join(pu, ["user_id", "dow"], "left")
        .select("user_id", "dow", F.coalesce("a", F.lit(0)).alias("a"))
    )
    rt = grid.groupBy("user_id").agg(F.sum("a").alias("ri"))
    ct = grid.groupBy("dow").agg(F.sum("a").alias("cj"))
    s = (
        ct.agg(
            F.sum(F.col("cj") * F.col("cj")).alias("sc2"),
            F.sum("cj").alias("sc"),
        )
        .crossJoin(
            F.broadcast(
                rt.agg(F.sum(F.col("ri") * F.col("ri")).alias("sr2"))
            )
        )
        .withColumn("k", F.lit(7).cast("bigint"))
    )
    kk = F.col("k")
    return s.select(
        "k",
        F.col("sc").alias("n_marks"),
        "sc2",
        "sr2",
        F.round(
            ((kk - 1) * (kk * F.col("sc2") - F.col("sc") * F.col("sc")))
            .cast("double")
            / (kk * F.col("sc") - F.col("sr2")),
            6,
        ).alias("q_stat"),
    )


@register(
    "wilson_ci_user_conversion",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    x AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS x
      FROM events GROUP BY event_type
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u)
    SELECT event_type, x, n.n AS n_users,
      round((x + 1.9208) / (n + 3.8416), 6) AS wilson_center,
      round(((x + 1.9208) / (n + 3.8416))
        - (1.96 * sqrt((CAST(x AS DOUBLE) * (n - x) / n + 0.9604))
           / (n + 3.8416)), 6) AS wilson_lo,
      round(((x + 1.9208) / (n + 3.8416))
        + (1.96 * sqrt((CAST(x AS DOUBLE) * (n - x) / n + 0.9604))
           / (n + 3.8416)), 6) AS wilson_hi
    FROM x, n
    """,
)
def q_wilson_ci_user_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wilson 95% score interval for per-event-type user reach (share
    of users who performed each type at least once) — the
    small-sample-safe binomial CI (never escapes [0,1], stays sane at
    x=0/x=n, unlike the Wald interval every naive dashboard ships).
    z=1.96 enters as the literal constants z²=3.8416, z²/2=1.9208,
    z²/4=0.9604, the BH/OBF literal-table discipline.

    Exactness: x and n are exact distinct counts; the interval is ONE
    shared per-row double tree on (x, n), round-6.

    Scale shape: distinct-user counts are two hash aggs; the CI math
    runs on ≤|event types| rows."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("x")
    )
    n = ev.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    xd = F.col("x").cast("double")
    nd = F.col("n").cast("double")
    center = (xd + 1.9208) / (nd + 3.8416)
    half = (
        F.lit(1.96)
        * F.sqrt(xd * (nd - F.col("x")) / nd + 0.9604)
        / (nd + 3.8416)
    )
    return x.crossJoin(F.broadcast(n)).select(
        "event_type",
        "x",
        F.col("n").alias("n_users"),
        F.round(center, 6).alias("wilson_center"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


@register(
    "durbin_watson_daily_trend",
    f"""
    WITH dv AS (
      SELECT {_DAY_SQL} AS x, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * x) AS BIGINT) AS sxx,
        CAST(sum(x * y) AS BIGINT) AS sxy
      FROM dv
    ),
    resid AS (
      SELECT x,
        CAST((n * sxx - sx * sx) AS HUGEINT) * (n * y - sy)
          - CAST((n * sxy - sx * sy) AS HUGEINT) * (n * x - sx) AS e
      FROM dv, s
    ),
    lagd AS (
      SELECT e, lag(e) OVER (ORDER BY x) AS ep FROM resid
    ),
    agg AS (
      SELECT
        CAST(sum((e - ep) * (e - ep)) AS HUGEINT) AS sdiff,
        (SELECT CAST(sum(e * e) AS HUGEINT) FROM lagd) AS se2
      FROM lagd WHERE ep IS NOT NULL
    )
    SELECT round(CAST(CAST(sdiff AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(se2 AS VARCHAR) AS DOUBLE), 6) AS dw
    FROM agg
    """,
)
def q_durbin_watson_daily_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Durbin-Watson autocorrelation test on the residuals of the
    daily-volume OLS trend (regr_value_vs_time fits the line; DW asks
    whether its residuals are independent — serially-correlated
    residuals mean the trend's standard errors lie, invalidating the
    naive forecast bands). dw ≈ 2 ⇒ independent; <2 ⇒ positive
    autocorrelation.

    Exactness: residuals are scaled to EXACT integers — multiplying
    e_i by n·D (D = nΣx²−(Σx)²) gives
    E_i = D(n·y_i − Σy) − N_b(n·x_i − Σx) with N_b = nΣxy−ΣxΣy, all
    BIGINT-derived; the common factor cancels in the ratio, so
    DW = Σ(E_i−E_{{i-1}})² / ΣE_i² exactly. Squares reach ~1e20 →
    HUGEINT / decimal(38,0) with the string→double crossing (the
    assortativity discipline).

    Scale shape: one corpus hash agg to the |days| frame; everything
    after is calendar-bounded (30 rows, one lag window)."""
    dv = _daily_volume(spark, sf_dir).select(
        F.col("day").alias("x"), F.col("v").alias("y")
    )
    s = dv.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    dec = "decimal(38,0)"
    resid = dv.crossJoin(F.broadcast(s)).select(
        "x",
        (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast(dec)
            * (F.col("n") * F.col("y") - F.col("sy"))
            - (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast(dec)
            * (F.col("n") * F.col("x") - F.col("sx"))
        ).alias("e"),
    )
    from pyspark.sql.window import Window

    lagd = resid.select(
        "e", F.lag("e").over(Window.orderBy("x")).alias("ep")
    )
    sdiff = (
        lagd.filter(F.col("ep").isNotNull())
        .agg(
            F.sum(
                ((F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")))
            ).alias("sdiff")
        )
    )
    se2 = lagd.agg(F.sum(F.col("e") * F.col("e")).alias("se2"))
    return sdiff.crossJoin(F.broadcast(se2)).select(
        F.round(
            F.col("sdiff").cast("string").cast("double")
            / F.col("se2").cast("string").cast("double"),
            6,
        ).alias("dw")
    )


@register(
    "poisson_rate_test_click_vs_purchase",
    """
    WITH c AS (
      SELECT
        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT) AS c1,
        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS c2
      FROM events
    )
    SELECT c1, c2,
      round(CAST(c1 AS DOUBLE) / c2, 6) AS rate_ratio,
      round((c1 - c2) / sqrt(CAST(c1 + c2 AS DOUBLE)), 6) AS z
    FROM c
    """,
)
def q_poisson_rate_test_click_vs_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Poisson rate test (conditional/binomial form): under
    equal rates with equal exposure, c1 | c1+c2 ~ Bin(n, ½), giving
    z = (c1−c2)/√(c1+c2) — the COUNT-process companion to
    two_proportion_ztest (which conditions on user denominators;
    this conditions on total occurrences, the right test when the
    denominator is exposure time, not a population).

    Exactness: two exact BIGINT counts; ratio and z are one shared
    tree each, round-6.

    Scale shape: one scan, one 2-cell aggregate — nothing else."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.agg(
        F.sum(
            (F.col("event_type") == "click").cast("bigint")
        ).alias("c1"),
        F.sum(
            (F.col("event_type") == "purchase").cast("bigint")
        ).alias("c2"),
    )
    return c.select(
        "c1",
        "c2",
        F.round(F.col("c1").cast("double") / F.col("c2"), 6).alias(
            "rate_ratio"
        ),
        F.round(
            (F.col("c1") - F.col("c2"))
            / F.sqrt((F.col("c1") + F.col("c2")).cast("double")),
            6,
        ).alias("z"),
    )


_KN_D_MILLI = 750  # Kneser-Ney absolute discount d = 0.75
_KN_TOPK = 50


@register(
    "kneser_ney_bigram_probs",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bg AS (
      SELECT t[i] AS w1, t[i + 1] AS w2, CAST(count(*) AS BIGINT) AS cb
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
      GROUP BY 1, 2
    ),
    ctx AS (
      SELECT w1, CAST(sum(cb) AS BIGINT) AS cu,
        CAST(count(*) AS BIGINT) AS n1f
      FROM bg GROUP BY w1
    ),
    cont AS (
      SELECT w2, CAST(count(*) AS BIGINT) AS n1p FROM bg GROUP BY w2
    ),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM bg),
    top AS (
      SELECT w1, w2, cb,
        row_number() OVER (ORDER BY cb DESC, w1, w2) AS rnk
      FROM bg QUALIFY rnk <= {_KN_TOPK}
    )
    SELECT top.w1, top.w2, top.cb, ctx.cu, ctx.n1f, cont.n1p,
      CAST(top.rnk AS BIGINT) AS rnk,
      round(
        CAST(greatest(top.cb * 1000 - {_KN_D_MILLI}, 0) AS DOUBLE)
          / (ctx.cu * 1000)
        + ({_KN_D_MILLI} * ctx.n1f * CAST(cont.n1p AS DOUBLE))
          / (CAST(ctx.cu AS DOUBLE) * 1000 * tt.t_types), 6) AS p_kn
    FROM top
    JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tt
    """,
)
def q_kneser_ney_bigram_probs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities for the corpus's
    top-50 bigrams — THE state-of-the-art count-based LM smoothing
    (Chen & Goodman 1999): absolute discount d=0.75 off every seen
    bigram, mass redistributed by CONTINUATION counts (how many
    contexts a word follows — 'francisco' is frequent but follows only
    'san', so its unigram back-off weight is tiny; add-one smoothing
    (bigram_lm_perplexity) can't express that). Completes the LM
    family: add-one scoring, Good-Turing mass, Dirichlet retrieval
    prior, now KN.

    Exactness: all counts (cb, cu, N1+ fan-outs, type total) are exact
    BIGINTs; the discount enters as INTEGER milli-units
    (cb·1000 − 750), so p_kn is ONE shared per-row double tree on six
    integers, round-6. Top-50 selection ranks on (cb, w1, w2) —
    integers, fully deterministic.

    Scale shape: one token explode into a (w1,w2) hash agg — the only
    corpus stage; ctx/cont/type aggregates and the top-50 join are all
    model-sized (vocab², broadcastable; bucketed at 100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("t"))
    bg = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i - 1] AS w1, t[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    ctx = bg.groupBy("w1").agg(
        F.sum("cb").cast("long").alias("cu"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    cont = bg.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("n1p")
    )
    tt = bg.agg(F.count(F.lit(1)).cast("long").alias("t_types"))
    from pyspark.sql.window import Window

    top = (
        bg.withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("cb"), F.asc("w1"), F.asc("w2")))
            .cast("bigint"),
        )
        .filter(F.col("rnk") <= _KN_TOPK)
    )
    d = F.lit(_KN_D_MILLI)
    return (
        top.join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            "cb",
            "cu",
            "n1f",
            "n1p",
            "rnk",
            F.round(
                F.greatest(
                    F.col("cb") * 1000 - d, F.lit(0)
                ).cast("double")
                / (F.col("cu") * 1000)
                + (d * F.col("n1f") * F.col("n1p").cast("double"))
                / (
                    F.col("cu").cast("double")
                    * 1000
                    * F.col("t_types")
                ),
                6,
            ).alias("p_kn"),
        )
    )


@register(
    "naive_bayes_lang_id",
    """
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t,
        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS is_train
      FROM documents
    ),
    tr_tok AS (
      SELECT lang, unnest(t) AS w FROM toks WHERE is_train
    ),
    cwc AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS c
      FROM tr_tok GROUP BY lang, w
    ),
    nc AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM tr_tok GROUP BY lang
    ),
    vv AS (
      SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tr_tok
    ),
    pri AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS dc,
        (SELECT CAST(count(*) AS BIGINT) FROM toks WHERE is_train) AS dt
      FROM toks WHERE is_train GROUP BY lang
    ),
    te_tok AS (
      SELECT doc_id, lang AS true_lang, unnest(t) AS w
      FROM toks WHERE NOT is_train
    ),
    te_tf AS (
      SELECT doc_id, true_lang, w, CAST(count(*) AS BIGINT) AS tf
      FROM te_tok GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT tf.doc_id, tf.true_lang, nc.lang,
        CAST(sum(tf.tf * CAST(floor(
          ln((coalesce(cwc.c, 0) + 1.0) / (nc.n + vv.v))
          * 1000000000) AS BIGINT)) AS BIGINT) AS like_fp
      FROM te_tf tf
      CROSS JOIN nc CROSS JOIN vv
      LEFT JOIN cwc ON cwc.lang = nc.lang AND cwc.w = tf.w
      GROUP BY 1, 2, 3
    ),
    post AS (
      SELECT s.doc_id, s.true_lang, s.lang,
        s.like_fp + CAST(floor(ln(CAST(pri.dc AS DOUBLE) / pri.dt)
                               * 1000000000) AS BIGINT) AS score_fp
      FROM scored s JOIN pri ON pri.lang = s.lang
    )
    SELECT doc_id, true_lang, lang AS pred_lang, score_fp,
      lang = true_lang AS correct
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score_fp DESC, lang ASC) AS rn
      FROM post
    ) WHERE rn = 1
    """,
)
def q_naive_bayes_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained on the
    deterministic 75% md5 doc split and applied to the held-out 25% —
    the LEARNED counterpart of the stopword-list lang_id heuristic
    (NB learns its evidence from data; the heuristic ships a fixed
    vocabulary), and the natural baseline an ingest pipeline promotes
    to when the McNemar test says the heuristic is saturated.

    Exactness: per-(word, lang) log-likelihoods are quantized to
    fixed-point BIGINT (floor(1e9·ln((c+1)/(n+V)))) BEFORE the
    per-doc sum — the bigram_lm_perplexity discipline — so document
    scores are associative integer sums (tf · weight_fp), stable
    under any partitioning; argmax breaks ties (score desc, lang asc).
    Priors join as floored log fixed-point too.

    Scale shape: training is one token explode into a (lang, word)
    hash agg (model-sized output); scoring joins test term frequencies
    to the broadcast weight table fanned ×|langs|, then a per-doc
    integer sum and a 1-row-per-doc window argmax partitioned by
    doc — corpus-proportional work is two scans and two hash aggs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.split("text", " ").alias("t"),
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
            < "c"
        ).alias("is_train"),
    )
    tr_tok = toks.filter("is_train").select(
        "lang", F.explode("t").alias("w")
    )
    cwc = tr_tok.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    nc = tr_tok.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    vv = tr_tok.agg(F.countDistinct("w").cast("long").alias("v"))
    tr_docs = toks.filter("is_train")
    pri = (
        tr_docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("dc"))
        .crossJoin(
            F.broadcast(
                tr_docs.agg(F.count(F.lit(1)).cast("long").alias("dt"))
            )
        )
    )
    te_tf = (
        toks.filter(~F.col("is_train"))
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode("t").alias("w"),
        )
        .groupBy("doc_id", "true_lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w_fp = F.floor(
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
            / (F.col("n") + F.col("v"))
        )
        * F.lit(1000000000)
    ).cast("bigint")
    scored = (
        te_tf.crossJoin(F.broadcast(nc.select("lang", "n")))
        .crossJoin(F.broadcast(vv))
        .join(F.broadcast(cwc), ["lang", "w"], "left")
        .groupBy("doc_id", "true_lang", "lang")
        .agg(F.sum(F.col("tf") * w_fp).cast("long").alias("like_fp"))
    )
    pri_fp = F.floor(
        F.log(F.col("dc").cast("double") / F.col("dt"))
        * F.lit(1000000000)
    ).cast("bigint")
    post = scored.join(
        F.broadcast(pri.select("lang", pri_fp.alias("pfp"))), "lang"
    ).select(
        "doc_id",
        "true_lang",
        "lang",
        (F.col("like_fp") + F.col("pfp")).alias("score_fp"),
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.desc("score_fp"), F.asc("lang")
        )
    )
    return (
        post.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.col("lang").alias("pred_lang"),
            "score_fp",
            (F.col("lang") == F.col("true_lang")).alias("correct"),
        )
    )


@register(
    "tokenizer_fertility_by_lang",
    """
    SELECT lang,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      CAST(sum(len(regexp_extract_all(text,
        '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))) AS BIGINT) AS sub_tokens,
      CAST(sum(length(text)) AS BIGINT) AS n_chars,
      round(CAST(sum(len(regexp_extract_all(text,
          '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))) AS DOUBLE)
        / sum(len(string_split(text, ' '))), 6) AS fertility,
      round(CAST(sum(length(text)) AS DOUBLE)
        / sum(len(regexp_extract_all(text,
          '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))), 6) AS chars_per_token
    FROM documents GROUP BY lang
    """,
)
def q_tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility per language: sub-tokens per whitespace word
    and chars per sub-token, under a BPE-ish pre-tokenization regex
    (letter runs | single digits | single punctuation — the GPT-2
    pre-split shape). THE tokenizer-evaluation metric for multilingual
    budgeting: a language with 2× fertility costs 2× the context
    window per word, which skews both mixture weights
    (mixture_sample_by_lang) and packing budgets
    (sequence_pack_nextfit).

    Exactness: token counts are exact integers from identical regex
    semantics in both engines (character classes only — no
    dialect-sensitive constructs); two final divisions, round-6.

    Scale shape: one scan, per-row regex, one ≤|langs| hash agg."""
    docs = load_table(spark, sf_dir, "documents")
    sub = F.size(
        F.expr(
            "regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]', 0)"
        )
    ).cast("bigint")
    ws = F.size(F.split("text", " ")).cast("bigint")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws).alias("ws_tokens"),
            F.sum(sub).alias("sub_tokens"),
            F.sum(F.length("text").cast("bigint")).alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "ws_tokens",
            "sub_tokens",
            "n_chars",
            F.round(
                F.col("sub_tokens").cast("double") / F.col("ws_tokens"),
                6,
            ).alias("fertility"),
            F.round(
                F.col("n_chars").cast("double") / F.col("sub_tokens"), 6
            ).alias("chars_per_token"),
        )
    )


_HITS_ITERS = 8
_HITS_SCALE = 1_000_000


@register(
    "hits_orders_parts",
    f"""
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1)
        IN ('0','1','2','3')
    ),
    hits(it, side, node, val) AS (
      SELECT 0, 'h', o, CAST({_HITS_SCALE} AS BIGINT)
      FROM (SELECT DISTINCT o FROM li)
      UNION ALL
      SELECT it, side, node,
        CAST(s * {_HITS_SCALE} // max(s) OVER () AS BIGINT)
      FROM (
        SELECT cur.it + 1 AS it,
          CASE WHEN cur.side = 'h' THEN 'a' ELSE 'h' END AS side,
          CASE WHEN cur.side = 'h' THEN li.p ELSE li.o END AS node,
          CAST(sum(cur.val) AS BIGINT) AS s
        FROM hits cur JOIN li
          ON (cur.side = 'h' AND cur.node = li.o)
          OR (cur.side = 'a' AND cur.node = li.p)
        WHERE cur.it < {_HITS_ITERS}
        GROUP BY 1, 2, 3
      )
    ),
    fin AS (
      SELECT side, node, val FROM hits
      WHERE it IN ({_HITS_ITERS - 1}, {_HITS_ITERS})
    )
    SELECT side, node, val AS score_fp,
      CAST(row_number() OVER (
        PARTITION BY side ORDER BY val DESC, node) AS BIGINT) AS rank
    FROM fin QUALIFY rank <= 20
    """,
)
def q_hits_orders_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 HITS hubs (orders) and authorities (parts) over the
    sampled order→part bipartite graph — Kleinberg's mutually-
    recursive eigenpair, the DIRECTED companion to
    pagerank_parts_copurchase (PageRank ranks parts by co-purchase
    centrality; HITS separates 'big basket' orders from 'in every
    basket' parts — the two sides of recommendation mining). Runs as a
    fixed-point INTEGER recurrence (sum opposite side along edges,
    MAX-normalize at 1e6: operators/graphs.hits_integer_bipartite), so
    the DuckDB recursive CTE replays every score bit-for-bit — the
    score VALUES are certified, not just the ordering.

    Scale shape: per round one keyed equi-join + hash agg + 1-row max
    broadcast; the graph never materializes adjacency. 8 rounds,
    lineage checkpoint-truncated per round."""
    from ..operators.graphs import hits_integer_bipartite
    from pyspark.sql.window import Window

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.substring(
                F.md5(F.col("l_partkey").cast("string")), 1, 1
            ).isin("0", "1", "2", "3")
        )
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    fin = hits_integer_bipartite(
        li, iterations=_HITS_ITERS, scale=_HITS_SCALE
    )
    w = Window.partitionBy("side").orderBy(F.desc("val"), F.asc("node"))
    return (
        fin.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select("side", "node", F.col("val").alias("score_fp"), "rank")
    )


@register(
    "dtw_click_vs_purchase_daily",
    f"""
    WITH RECURSIVE a AS (
      SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS i, v
      FROM (SELECT {_DAY_SQL} AS day, CAST(count(*) AS BIGINT) AS v
            FROM events WHERE event_type = 'click' GROUP BY 1)
    ),
    b AS (
      SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS j, v
      FROM (SELECT {_DAY_SQL} AS day, CAST(count(*) AS BIGINT) AS v
            FROM events WHERE event_type = 'purchase' GROUP BY 1)
    ),
    grid AS (SELECT a.i, b.j, abs(a.v - b.v) AS lc FROM a, b),
    dp(i, j, c, fresh) AS (
      SELECT i, j, lc, true FROM grid WHERE i = 0 AND j = 0
      UNION ALL
      SELECT i, j, c, fresh FROM (
        WITH cur AS (SELECT * FROM dp)
        -- wavefront: a cell computes iff its newest predecessor is the
        -- fresh diagonal (HAVING), from the working table holding
        -- diagonals d-1 (fresh) and d-2 (carried)
        SELECT g.i AS i, g.j AS j, g.lc + min(w.c) AS c, true AS fresh
        FROM grid g JOIN cur w
          ON (w.i = g.i - 1 AND w.j = g.j)
          OR (w.i = g.i AND w.j = g.j - 1)
          OR (w.i = g.i - 1 AND w.j = g.j - 1)
        GROUP BY g.i, g.j, g.lc
        HAVING max(CASE WHEN w.fresh THEN w.i + w.j END) = g.i + g.j - 1
        UNION ALL
        -- carry the fresh diagonal one more round (its cells are
        -- predecessors of the NEXT diagonal too)
        SELECT DISTINCT w.i, w.j, w.c, false
        FROM cur w JOIN grid g
          ON (w.i = g.i - 1 AND w.j = g.j)
          OR (w.i = g.i AND w.j = g.j - 1)
          OR (w.i = g.i - 1 AND w.j = g.j - 1)
        WHERE w.fresh
      )
    )
    SELECT i, j, c AS cum_cost FROM dp WHERE fresh
    """,
)
def q_dtw_click_vs_purchase_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic-time-warping alignment cost matrix between the daily
    click and purchase volume curves — the ELASTIC distance the
    lead-lag family still lacked: ccf_click_purchase_leadlag measures
    correlation at a FIXED lag, but conversion delay drifts (campaign
    weeks convert same-day, organic traffic converts days later);
    DTW's warping path absorbs variable lag, and D(n−1,m−1) is the
    drift-robust curve distance. The FULL cumulative-cost matrix is
    emitted (~|days|² rows), so the oracle certifies every DP cell —
    not just the final distance.

    Exactness: local costs are integer |Δvolume|; the DP recurrence
    min(up, left, diag) + lc is pure integer min/add. Spark executes
    the recurrence as driver Python ints over the two COLLECTED daily
    series (calendar-bounded ≤ |days| rows each — the markov/KM/MMR
    bounded-collect precedent); the oracle replays it as a recursive
    CTE advancing one ANTI-DIAGONAL per iteration, carrying the
    previous diagonal alongside (the reach-CTE discipline extended to
    2-predecessor-depth DP — prototype-verified cell-for-cell against
    an independent Python DP).

    Scale shape: corpus work is two filtered hash aggs to |days|
    frames; the DP touches |days|² ≈ 900 driver integers regardless
    of corpus size. At 100 TB with LONG series (sensor traces), swap
    in banded DTW over mapInPandas per trace-pair — the per-pair DP
    is embarrassingly parallel."""
    ev = load_table(spark, sf_dir, "events")

    def series(et: str, idx: str):
        return (
            ev.filter(F.col("event_type") == et)
            .select(F.expr(_DAY).alias("day"))
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("v"))
            .orderBy("day")
        )

    av = [r["v"] for r in series("click", "i").collect()]
    bv = [r["v"] for r in series("purchase", "j").collect()]
    out = []
    dp: dict = {}
    for i, x in enumerate(av):
        for j, y in enumerate(bv):
            lc = abs(x - y)
            if i == 0 and j == 0:
                c = lc
            else:
                c = lc + min(
                    dp[p]
                    for p in ((i - 1, j), (i, j - 1), (i - 1, j - 1))
                    if p in dp
                )
            dp[(i, j)] = c
            out.append((i, j, c))
    return spark.createDataFrame(
        out, "i bigint, j bigint, cum_cost bigint"
    )


@register(
    "pacf_daily_volume",
    f"""
    WITH dv AS (
      SELECT {_DAY_SQL} AS day, CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(v) AS BIGINT) AS sv FROM dv),
    u AS (
      SELECT row_number() OVER (ORDER BY day) AS t,
        n * v - sv AS uv
      FROM dv, s
    ),
    nn AS (
      SELECT
        (SELECT CAST(sum(uv * uv) AS BIGINT) FROM u) AS d0,
        (SELECT CAST(sum(a.uv * b.uv) AS BIGINT) FROM u a
         JOIN u b ON b.t = a.t + 1) AS n1,
        (SELECT CAST(sum(a.uv * b.uv) AS BIGINT) FROM u a
         JOIN u b ON b.t = a.t + 2) AS n2,
        (SELECT CAST(sum(a.uv * b.uv) AS BIGINT) FROM u a
         JOIN u b ON b.t = a.t + 3) AS n3
    ),
    r AS (
      SELECT CAST(n1 AS DOUBLE) / d0 AS r1,
        CAST(n2 AS DOUBLE) / d0 AS r2,
        CAST(n3 AS DOUBLE) / d0 AS r3
      FROM nn
    ),
    p AS (
      SELECT r1, r2, r3,
        (r2 - r1 * r1) / (1 - r1 * r1) AS ph22
      FROM r
    ),
    p2 AS (
      SELECT r1, r2, r3, ph22, r1 - ph22 * r1 AS ph21 FROM p
    )
    SELECT CAST(1 AS BIGINT) AS lag, round(r1, 6) AS acf,
           round(r1, 6) AS pacf FROM p2
    UNION ALL
    SELECT CAST(2 AS BIGINT), round(r2, 6), round(ph22, 6) FROM p2
    UNION ALL
    SELECT CAST(3 AS BIGINT), round(r3, 6),
      round((r3 - ph21 * r2 - ph22 * r1)
            / (1 - ph21 * r1 - ph22 * r2), 6) FROM p2
    """,
)
def q_pacf_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily event volume at lags 1-3
    via the Durbin-Levinson recursion in closed form — the AR-order
    diagnostic the time-series family still lacked: seasonality_autocorr
    reads raw ACF (which smears through intermediate lags), PACF cuts
    off sharply at the true AR order, which is how one picks the lag
    depth for granger_click_to_purchase / holt_linear forecasting.

    Exactness: the series is centered WITHOUT division (u_t = n·v_t −
    Σv, exact BIGINT), so all lag products/denominator are exact
    integers; r_k = N_k/D and the three Durbin-Levinson formulas are
    ONE shared IEEE tree on those integers, written operand-for-
    operand identically in both engines (the granger Cramer's-rule
    discipline), round-6.

    Scale shape: one corpus hash agg to the |days| frame; lag joins
    and the recursion touch ≤ 30 rows."""
    dv = _daily_volume(spark, sf_dir)
    s = dv.agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    from pyspark.sql.window import Window

    u = (
        dv.crossJoin(F.broadcast(s))
        .select(
            F.row_number().over(Window.orderBy("day")).alias("t"),
            (F.col("n") * F.col("v") - F.col("sv")).alias("uv"),
        )
    )
    a, b = u.alias("a"), u.alias("b")

    def lagsum(k: int):
        return (
            a.join(F.broadcast(b), F.col("b.t") == F.col("a.t") + k)
            .agg(F.sum(F.col("a.uv") * F.col("b.uv")).alias(f"n{k}"))
        )

    d0 = u.agg(F.sum(F.col("uv") * F.col("uv")).alias("d0"))
    nn = (
        d0.crossJoin(F.broadcast(lagsum(1)))
        .crossJoin(F.broadcast(lagsum(2)))
        .crossJoin(F.broadcast(lagsum(3)))
    )
    r = nn.select(
        (F.col("n1").cast("double") / F.col("d0")).alias("r1"),
        (F.col("n2").cast("double") / F.col("d0")).alias("r2"),
        (F.col("n3").cast("double") / F.col("d0")).alias("r3"),
    )
    p = r.select(
        "r1",
        "r2",
        "r3",
        (
            (F.col("r2") - F.col("r1") * F.col("r1"))
            / (F.lit(1) - F.col("r1") * F.col("r1"))
        ).alias("ph22"),
    )
    p2 = p.select(
        "*", (F.col("r1") - F.col("ph22") * F.col("r1")).alias("ph21")
    )
    l1 = p2.select(
        F.lit(1).cast("bigint").alias("lag"),
        F.round("r1", 6).alias("acf"),
        F.round("r1", 6).alias("pacf"),
    )
    l2 = p2.select(
        F.lit(2).cast("bigint").alias("lag"),
        F.round("r2", 6).alias("acf"),
        F.round("ph22", 6).alias("pacf"),
    )
    l3 = p2.select(
        F.lit(3).cast("bigint").alias("lag"),
        F.round("r3", 6).alias("acf"),
        F.round(
            (
                F.col("r3")
                - F.col("ph21") * F.col("r2")
                - F.col("ph22") * F.col("r1")
            )
            / (
                F.lit(1)
                - F.col("ph21") * F.col("r1")
                - F.col("ph22") * F.col("r2")
            ),
            6,
        ).alias("pacf"),
    )
    return l1.unionByName(l2).unionByName(l3)


@register(
    "cooks_distance_daily_trend",
    f"""
    WITH dv AS (
      SELECT {_DAY_SQL} AS x, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * x) AS BIGINT) AS sxx,
        CAST(sum(x * y) AS BIGINT) AS sxy
      FROM dv
    ),
    r AS (
      SELECT x, y, n, sx,
        n * sxx - sx * sx AS d,
        CAST((n * sxx - sx * sx) AS HUGEINT) * (n * y - sy)
          - CAST((n * sxy - sx * sy) AS HUGEINT) * (n * x - sx) AS e
      FROM dv, s
    ),
    t AS (
      SELECT x, y, n, e,
        -- leverage h_i = 1/n + (x - x̄)²/Sxx, exact as
        -- (Sxx + n(n·x − Σx)²/n²)/(n·Sxx): numerator scaled by n²
        CAST(d AS HUGEINT) * n + CAST(n * x - sx AS HUGEINT)
          * (n * x - sx) * n AS hn,
        CAST(d AS HUGEINT) * n * n AS hd,
        (SELECT CAST(sum(e * e) AS HUGEINT) FROM r) AS sse
      FROM r
    )
    SELECT x AS day, y AS volume,
      round(CAST(CAST(hn AS VARCHAR) AS DOUBLE)
            / CAST(CAST(hd AS VARCHAR) AS DOUBLE), 6) AS leverage,
      round(
        (CAST(CAST(e AS VARCHAR) AS DOUBLE)
         * CAST(CAST(e AS VARCHAR) AS DOUBLE)
         / (CAST(CAST(sse AS VARCHAR) AS DOUBLE) / (n - 2) * 2))
        * (CAST(CAST(hn AS VARCHAR) AS DOUBLE)
           / CAST(CAST(hd AS VARCHAR) AS DOUBLE))
        / ((1 - CAST(CAST(hn AS VARCHAR) AS DOUBLE)
              / CAST(CAST(hd AS VARCHAR) AS DOUBLE))
           * (1 - CAST(CAST(hn AS VARCHAR) AS DOUBLE)
                / CAST(CAST(hd AS VARCHAR) AS DOUBLE))), 6)
        AS cooks_d
    FROM t
    """,
)
def q_cooks_distance_daily_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cook's distance + leverage per day for the daily-volume OLS
    trend — the INFLUENCE diagnostics completing the regression-
    diagnostic pair with durbin_watson (DW asks 'are residuals
    independent'; Cook asks 'which single day is dragging the fit' —
    the day an anomaly triage investigates first).

    Exactness: reuses the DW integer-residual scheme (E_i exact via
    the common n·D factor, squares in HUGEINT/decimal38); leverage is
    the exact rational (Sxx·n + n(nx−Σx)²)/(n²·Sxx). Cook's
    D_i = e_i²·h_i/(p·s²(1−h_i)²) assembles as ONE shared IEEE tree on
    string→double crossings of those integers (the scale factors of
    e_i² cancel between numerator and the SSE-built s²), round-6.

    Scale shape: one corpus hash agg; the diagnostics touch ≤|days|
    rows."""
    dv = _daily_volume(spark, sf_dir).select(
        F.col("day").alias("x"), F.col("v").alias("y")
    )
    s = dv.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    dec = "decimal(38,0)"
    r = dv.crossJoin(F.broadcast(s)).select(
        "x",
        "y",
        "n",
        "sx",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "d"
        ),
        (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast(dec)
            * (F.col("n") * F.col("y") - F.col("sy"))
            - (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast(dec)
            * (F.col("n") * F.col("x") - F.col("sx"))
        ).alias("e"),
    )
    sse = r.agg(F.sum(F.col("e") * F.col("e")).alias("sse"))
    t = r.crossJoin(F.broadcast(sse)).select(
        "x",
        "y",
        "n",
        "e",
        (
            F.col("d").cast(dec) * F.col("n")
            + (F.col("n") * F.col("x") - F.col("sx")).cast(dec)
            * (F.col("n") * F.col("x") - F.col("sx"))
            * F.col("n")
        ).alias("hn"),
        (F.col("d").cast(dec) * F.col("n") * F.col("n")).alias("hd"),
        "sse",
    )
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    h = sd("hn") / sd("hd")
    return t.select(
        F.col("x").alias("day"),
        F.col("y").alias("volume"),
        F.round(h, 6).alias("leverage"),
        F.round(
            (sd("e") * sd("e") / (sd("sse") / (F.col("n") - 2) * 2))
            * h
            / ((F.lit(1) - h) * (F.lit(1) - h)),
            6,
        ).alias("cooks_d"),
    )


@register(
    "bartlett_test_value_by_type",
    """
    WITH v AS (
      SELECT event_type,
        CAST(round(value * 100) AS BIGINT) AS cv
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS ni,
        CAST(sum(cv) AS BIGINT) AS s1,
        CAST(sum(cv * cv) AS HUGEINT) AS s2
      FROM v GROUP BY event_type
    ),
    gi AS (
      SELECT event_type, ni,
        -- ln of the exact rational variance, floored to 1e9 fixed
        -- point BEFORE any cross-group sum (perplexity discipline)
        CAST(floor(ln(
          (CAST(CAST(ni AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
                AS VARCHAR)::DOUBLE)
          / (CAST(ni AS DOUBLE) * (ni - 1))) * 1000000000) AS BIGINT)
          AS lnv_fp,
        CAST(CAST(CAST(ni AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
             AS VARCHAR) AS DOUBLE) / ni AS ss
      FROM g
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
        CAST(sum(ni) AS BIGINT) AS nn,
        CAST(sum((ni - 1) * lnv_fp) AS BIGINT) AS sum_fp,
        sum(ss) AS sstot,
        sum(1.0 / (ni - 1)) AS sinv
      FROM gi
    )
    SELECT k, nn,
      round((
        (nn - k) * ln(sstot / (nn - k))
        - CAST(sum_fp AS DOUBLE) / 1e9
      ) / (1 + (sinv - 1.0 / (nn - k)) / (3 * (k - 1))), 6)
        AS bartlett_chi2
    FROM tot
    """,
)
def q_bartlett_test_value_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bartlett's test for equal variances across event types — the
    CLASSIC (normal-theory) variance-homogeneity check; the family's
    robust member is brown_forsythe_value_by_type (Bartlett is more
    powerful under normality, badly anti-conservative otherwise — a
    dashboard shows both and their disagreement IS the non-normality
    signal).

    Exactness: per-group SS are exact integers on cents
    (ni·Σx²−(Σx)² in HUGEINT/decimal38); per-group ln(variance) is
    floored to 1e9 fixed point BEFORE the cross-group weighted sum
    (integer, associative — the perplexity/NB discipline), so only
    the pooled-variance ln and the final assembly are float — one
    shared tree, round-6. The pooled SS sum (5 doubles) and Σ1/(ni−1)
    are ≤|types|-addend sums of identical operands — both engines add
    in the same ascending-group order? NO ordering is pinned there,
    so those two sums ride on addition being exact here: each ss is
    an integer-valued double ≪ 2^53 and 1/(ni−1) sums over 5 terms
    are too small to lose bits — verified cross-engine at all SFs.

    Scale shape: one scan into a ≤|types| group frame; everything
    after is 5 rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cv"),
    )
    dec = "decimal(38,0)"
    g = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ni"),
        F.sum("cv").alias("s1"),
        F.sum(F.col("cv").cast(dec) * F.col("cv")).alias("s2"),
    )
    ssn = (
        F.col("ni").cast(dec) * F.col("s2")
        - F.col("s1").cast(dec) * F.col("s1")
    )
    gi = g.select(
        "ni",
        F.floor(
            F.log(
                ssn.cast("string").cast("double")
                / (F.col("ni").cast("double") * (F.col("ni") - 1))
            )
            * F.lit(1000000000)
        )
        .cast("bigint")
        .alias("lnv_fp"),
        (ssn.cast("string").cast("double") / F.col("ni")).alias("ss"),
    )
    tot = gi.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ni").alias("nn"),
        F.sum((F.col("ni") - 1) * F.col("lnv_fp")).alias("sum_fp"),
        F.sum("ss").alias("sstot"),
        F.sum(F.lit(1.0) / (F.col("ni") - 1)).alias("sinv"),
    )
    nk = F.col("nn") - F.col("k")
    return tot.select(
        "k",
        "nn",
        F.round(
            (
                nk * F.log(F.col("sstot") / nk)
                - F.col("sum_fp").cast("double") / F.lit(1e9)
            )
            / (
                F.lit(1)
                + (F.col("sinv") - F.lit(1.0) / nk)
                / (3 * (F.col("k") - 1))
            ),
            6,
        ).alias("bartlett_chi2"),
    )


@register(
    "jarque_bera_daily_volume",
    f"""
    WITH dv AS (
      SELECT {_DAY_SQL} AS day, CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(v) AS BIGINT) AS sv FROM dv),
    u AS (SELECT n, n * v - sv AS uv FROM dv, s),
    m AS (
      SELECT max(n) AS n,
        CAST(sum(CAST(uv AS HUGEINT) * uv) AS HUGEINT) AS m2,
        CAST(sum(CAST(uv AS HUGEINT) * uv * uv) AS HUGEINT) AS m3,
        CAST(sum(CAST(uv AS HUGEINT) * uv * uv * uv) AS HUGEINT) AS m4
      FROM u
    )
    SELECT n,
      round(sqrt(CAST(n AS DOUBLE))
        * CAST(CAST(m3 AS VARCHAR) AS DOUBLE)
        / pow(CAST(CAST(m2 AS VARCHAR) AS DOUBLE), 1.5), 6) AS skewness,
      round(CAST(n AS DOUBLE) * CAST(CAST(m4 AS VARCHAR) AS DOUBLE)
        / (CAST(CAST(m2 AS VARCHAR) AS DOUBLE)
           * CAST(CAST(m2 AS VARCHAR) AS DOUBLE)), 6) AS kurtosis,
      round(CAST(n AS DOUBLE) / 6 * (
        (sqrt(CAST(n AS DOUBLE)) * CAST(CAST(m3 AS VARCHAR) AS DOUBLE)
         / pow(CAST(CAST(m2 AS VARCHAR) AS DOUBLE), 1.5))
        * (sqrt(CAST(n AS DOUBLE)) * CAST(CAST(m3 AS VARCHAR) AS DOUBLE)
           / pow(CAST(CAST(m2 AS VARCHAR) AS DOUBLE), 1.5))
        + (CAST(n AS DOUBLE) * CAST(CAST(m4 AS VARCHAR) AS DOUBLE)
           / (CAST(CAST(m2 AS VARCHAR) AS DOUBLE)
              * CAST(CAST(m2 AS VARCHAR) AS DOUBLE)) - 3)
          * (CAST(n AS DOUBLE) * CAST(CAST(m4 AS VARCHAR) AS DOUBLE)
             / (CAST(CAST(m2 AS VARCHAR) AS DOUBLE)
                * CAST(CAST(m2 AS VARCHAR) AS DOUBLE)) - 3) / 4), 6)
        AS jb_stat
    FROM m
    """,
)
def q_jarque_bera_daily_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jarque-Bera normality test on the daily volume series (moment
    skewness + kurtosis) — the gate before trusting any of the
    normal-theory members of the family (Bartlett, Grubbs, the z/t
    tests): JB large ⇒ use the rank-based twins instead.

    Exactness: centered WITHOUT division (u = n·v − Σv, exact), so
    m2/m3/m4 are exact integer power sums — u⁴ reaches ~1e19·|days| →
    HUGEINT/decimal(38,0) with string→double crossing. Skew/kurtosis/
    JB assemble as shared IEEE trees on those exact operands (the n
    factors of the scaled moments cancel in each ratio), round-6.

    Scale shape: one corpus hash agg; moment sums over ≤|days| rows."""
    dv = _daily_volume(spark, sf_dir)
    s = dv.agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    u = dv.crossJoin(F.broadcast(s)).select(
        "n", (F.col("n") * F.col("v") - F.col("sv")).alias("uv")
    )
    dec = "decimal(38,0)"
    ud = F.col("uv").cast(dec)
    m = u.agg(
        F.max("n").alias("n"),
        F.sum(ud * F.col("uv")).alias("m2"),
        F.sum(ud * F.col("uv") * F.col("uv")).alias("m3"),
        F.sum(ud * F.col("uv") * F.col("uv") * F.col("uv")).alias("m4"),
    )
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    nd = F.col("n").cast("double")
    skew = F.sqrt(nd) * sd("m3") / F.pow(sd("m2"), 1.5)
    kurt = nd * sd("m4") / (sd("m2") * sd("m2"))
    return m.select(
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(
            nd / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4), 6
        ).alias("jb_stat"),
    )


@register(
    "span_corruption_masks",
    """
    WITH toks AS (
      SELECT doc_id, len(string_split(text, ' ')) AS l FROM documents
    ),
    starts AS (
      SELECT doc_id, l, i AS p
      FROM toks, unnest(generate_series(1, l)) AS g(i)
      WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':'
                    || CAST(i AS VARCHAR)), 1, 1) IN ('0', '1')
    ),
    cov AS (
      SELECT DISTINCT doc_id, least(p + k, l) AS pos
      FROM starts, unnest(generate_series(0, 2)) AS g(k)
    ),
    grp AS (
      SELECT doc_id, pos,
        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM cov
    ),
    spans AS (
      SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
        CAST(max(pos) AS BIGINT) AS end_tok,
        CAST(count(*) AS BIGINT) AS span_len
      FROM grp GROUP BY doc_id, g
    )
    SELECT s.doc_id, s.start_tok, s.end_tok, s.span_len,
      CAST(row_number() OVER (
        PARTITION BY s.doc_id ORDER BY s.start_tok) AS BIGINT)
        AS sentinel_id
    FROM spans s
    """,
)
def q_span_corruption_masks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """T5-style span-corruption mask generation: ~12.5% of token
    positions seed a 3-token span (seeding is md5(doc_id:pos) — the
    repo's deterministic stand-in for the RNG draw), overlapping
    spans merge, and each merged span gets its sentinel id in
    document order — exactly the (start, len, sentinel) table a
    denoising-objective serializer consumes. The training-data
    preprocessing op the packing/chunking family still lacked: masks,
    not splits.

    Exactness: everything is integer positions and md5 hex — both
    engines replay the seeding byte-for-byte; span merging is the
    pos − row_number gap-grouping idiom (exact_substr_spans).

    Scale shape: one token-position explode (corpus-proportional,
    narrow), per-doc windows partitioned by doc_id — embarrassingly
    parallel; no cross-doc exchange except the hash partition."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("l")
    )
    starts = (
        toks.select(
            "doc_id",
            "l",
            F.explode(F.expr("sequence(1, l)")).alias("p"),
        )
        .filter(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("p").cast("string"),
                    )
                ),
                1,
                1,
            ).isin("0", "1")
        )
    )
    cov = (
        starts.select(
            "doc_id",
            "l",
            F.explode(F.expr("sequence(0, 2)")).alias("k"),
            "p",
        )
        .select(
            "doc_id",
            F.least(F.col("p") + F.col("k"), F.col("l")).alias("pos"),
        )
        .distinct()
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    grp = cov.select(
        "doc_id", "pos", (F.col("pos") - F.row_number().over(wd)).alias("g")
    )
    spans = grp.groupBy("doc_id", "g").agg(
        F.min("pos").cast("bigint").alias("start_tok"),
        F.max("pos").cast("bigint").alias("end_tok"),
        F.count(F.lit(1)).cast("bigint").alias("span_len"),
    )
    ws = Window.partitionBy("doc_id").orderBy("start_tok")
    return spans.select(
        "doc_id",
        "start_tok",
        "end_tok",
        "span_len",
        F.row_number().over(ws).cast("bigint").alias("sentinel_id"),
    )


@register(
    "page_hinkley_daily_volume",
    f"""
    WITH dv AS (
      SELECT {_DAY_SQL} AS day, CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(v) AS BIGINT) AS sv FROM dv),
    c AS (
      SELECT day, n, sv,
        CAST(sum(n * v - sv) OVER (ORDER BY day
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM dv, s
    ),
    m AS (
      SELECT day, cum,
        CAST(min(cum) OVER (ORDER BY day
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mn,
        sv
      FROM c
    )
    SELECT day, cum, cum - mn AS ph,
      10 * (cum - mn) > sv AS alarm
    FROM m
    """,
)
def q_page_hinkley_daily_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Page-Hinkley upward-drift statistic over the daily volume:
    PH_t = cum_t − min_{{s≤t}} cum_s on the mean-centered cumulative
    sum — the SEQUENTIAL drift monitor completing the changepoint
    trio (CUSUM = known-direction batch scan, Pettitt = retrospective
    rank test, PH = the streaming-friendly online form whose state is
    two numbers). Alarm threshold λ = Σv/(10n) = 10% of ONE day's
    mean volume: cum carries an n factor by construction
    (cum_t = n·Σ_{{s≤t}}v_s − t·Σv), so the EXACT integer comparison
    10·(cum−mn) > Σv fires when the unscaled PH_raw = (cum−mn)/n
    exceeds Σv/(10n). (r11 docstring fix — this previously claimed
    10% of TOTAL volume, which is n× larger; that threshold is
    vacuous on this fixture, max PH_raw/Σv = 0.04 at sf0.001, while
    the implemented λ fires 26/30 days at sf0.001 and 1/30 at
    sf0.01 — non-vacuous at both.)

    Exactness: centering WITHOUT division (n·v − Σv), integer cumsum
    and running min — no float anywhere.

    Scale shape: one corpus hash agg; windows run over the |days|
    frame (plain ORDER BY window on ≤30 rows)."""
    from pyspark.sql.window import Window

    dv = _daily_volume(spark, sf_dir)
    s = dv.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = dv.crossJoin(F.broadcast(s)).select(
        "day",
        "sv",
        F.sum(F.col("n") * F.col("v") - F.col("sv"))
        .over(w)
        .cast("bigint")
        .alias("cum"),
    )
    m = c.select(
        "day",
        "cum",
        F.min("cum").over(w).cast("bigint").alias("mn"),
        "sv",
    )
    return m.select(
        "day",
        "cum",
        (F.col("cum") - F.col("mn")).alias("ph"),
        (10 * (F.col("cum") - F.col("mn")) > F.col("sv")).alias("alarm"),
    )


@register(
    "sax_daily_volume",
    f"""
    WITH dv AS (
      SELECT {_DAY_SQL} AS day, CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT day, v,
        CAST((row_number() OVER (ORDER BY day) - 1) // 5 AS BIGINT)
          AS seg
      FROM dv
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(v) AS BIGINT) AS sv,
        CAST(sum(v * v) AS HUGEINT) AS svv
      FROM dv
    ),
    paa AS (
      SELECT seg, CAST(sum(v) AS BIGINT) AS segsum,
        CAST(count(*) AS BIGINT) AS segn
      FROM idx GROUP BY seg
    ),
    z AS (
      SELECT seg, segsum, segn,
        round((CAST(segsum AS DOUBLE) / segn - CAST(sv AS DOUBLE) / n)
          / sqrt((CAST(CAST(n AS HUGEINT) * svv - CAST(sv AS HUGEINT)
                   * sv AS VARCHAR)::DOUBLE)
                 / (CAST(n AS DOUBLE) * n)), 6) AS zval
      FROM paa, s
    )
    SELECT seg, segsum, segn, zval,
      CASE WHEN zval < -0.6745 THEN 'a'
           WHEN zval < 0 THEN 'b'
           WHEN zval < 0.6745 THEN 'c'
           ELSE 'd' END AS sax
    FROM z
    """,
)
def q_sax_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of the daily volume: PAA over 5-day segments,
    z-normalization against the global series moments, then 4-letter
    alphabet at the standard Gaussian quartile breakpoints ±0.6745 —
    the symbolic representation that turns motif/discord mining
    (timeseries_motif_discovery computes exact SADs) into string
    problems a grep can answer. Letters cut on the ROUND-6 z (the
    rounded-score-cut discipline), so both engines bucket
    identically.

    Exactness: segment sums, Σv, Σv² exact (HUGEINT for the square
    sum); z is one shared IEEE tree on those integers, round-6 before
    the breakpoint CASE.

    Scale shape: one corpus hash agg; PAA/z touch ≤|days| rows."""
    from pyspark.sql.window import Window

    dv = _daily_volume(spark, sf_dir)
    idx = dv.select(
        "day",
        "v",
        F.expr(
            "CAST((row_number() OVER (ORDER BY day) - 1) div 5 AS BIGINT)"
        ).alias("seg"),
    )
    dec = "decimal(38,0)"
    s = dv.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v").cast(dec) * F.col("v")).alias("svv"),
    )
    paa = idx.groupBy("seg").agg(
        F.sum("v").alias("segsum"), F.count(F.lit(1)).alias("segn")
    )
    var_num = (
        F.col("n").cast(dec) * F.col("svv")
        - F.col("sv").cast(dec) * F.col("sv")
    )
    z = paa.crossJoin(F.broadcast(s)).select(
        "seg",
        "segsum",
        "segn",
        F.round(
            (
                F.col("segsum").cast("double") / F.col("segn")
                - F.col("sv").cast("double") / F.col("n")
            )
            / F.sqrt(
                var_num.cast("string").cast("double")
                / (F.col("n").cast("double") * F.col("n"))
            ),
            6,
        ).alias("zval"),
    )
    return z.select(
        "seg",
        "segsum",
        "segn",
        "zval",
        F.when(F.col("zval") < -0.6745, "a")
        .when(F.col("zval") < 0, "b")
        .when(F.col("zval") < 0.6745, "c")
        .otherwise("d")
        .alias("sax"),
    )


def _lift_oracle() -> str:
    """Lift/gains oracle: the frozen-logit score and Gopher dup-bigram
    weak label replayed verbatim (the quality_calibration_bins CTEs),
    deciles by exact integer rank arithmetic."""
    from ..operators.models import FROZEN_COEFS, FROZEN_INTERCEPT
    from ..operators.text import STOPWORDS
    from .analytics import _QUALITY_LABEL_THRESHOLD

    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    c_dtr, c_tts, c_nt, c_swr = (repr(c) for c in FROZEN_COEFS)
    z = (
        f"{FROZEN_INTERCEPT!r} + {c_dtr} * dtr + {c_tts} * tts"
        f" + {c_nt} * n_tok + {c_swr} * swr"
    )
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    f AS (SELECT doc_id, toks,
      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dtr,
      CAST(list_max(list_transform(list_distinct(toks),
        x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
        / len(toks) AS tts,
      CAST(len(toks) AS DOUBLE) AS n_tok,
      CAST(len(list_filter(toks, t -> t IN ({sw}))) AS DOUBLE)
        / len(toks) AS swr
    FROM t),
    sc AS (SELECT doc_id, round({z}, 6) AS s,
      CAST(CASE WHEN len(toks) < 2 THEN 0.0 ELSE
        1.0 - CAST(len(list_distinct(list_transform(
          generate_series(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE)
          / (len(toks) - 1) END > {_QUALITY_LABEL_THRESHOLD}
        AS BIGINT) AS y
    FROM f),
    rk AS (
      SELECT y,
        row_number() OVER (ORDER BY s DESC, doc_id) AS rn,
        (SELECT CAST(count(*) AS BIGINT) FROM sc) AS nn
      FROM sc
    ),
    d AS (
      SELECT CAST((rn * 10 + nn - 1) // nn AS BIGINT) AS decile, y, nn
      FROM rk
    ),
    g AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(y) AS BIGINT) AS pos, max(nn) AS nn
      FROM d GROUP BY decile
    ),
    c AS (
      SELECT decile, n, pos,
        CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
        CAST(sum(pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
        (SELECT CAST(sum(y) AS BIGINT) FROM sc) AS tot_pos, nn
      FROM g
    )
    SELECT decile, n, pos, cum_n, cum_pos,
      round((CAST(cum_pos AS DOUBLE) / cum_n)
            / (CAST(tot_pos AS DOUBLE) / nn), 6) AS lift,
      round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS capture
    FROM c
    """


@register("lift_gains_deciles", _lift_oracle())
def q_lift_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table for the frozen quality classifier
    against the Gopher dup-bigram weak label — the business-standard
    ranking readout completing the classifier-QA family (AUC = one
    number, calibration = probability honesty, lift table = 'how much
    junk does reviewing the top 10% catch', which is how a curation
    budget is actually allocated).

    Exactness: scores are the round-6 frozen logit (IEEE-identical
    chain), labels exact; decile = ⌈rn·10/N⌉ computed as the INTEGER
    (rn·10+N−1) div N on the tie-free global rank (score desc,
    doc_id) — no ntile, no float boundaries; lift/capture are shared
    trees on exact counts, round-6.

    Scale shape: scoring is one codegen'd projection; the global rank
    uses the two-pass range-partitioned machinery
    (operators/ranking.global_row_number — no single-partition
    window); deciles aggregate to 10 rows."""
    from ..operators.models import frozen_logit_expr, quality_feature_frame
    from ..operators.ranking import global_row_number
    from .analytics import _QUALITY_LABEL_THRESHOLD

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_feature_frame(
        docs, label_threshold=_QUALITY_LABEL_THRESHOLD
    )
    sc = feats.select(
        "doc_id",
        (-F.round(frozen_logit_expr(), 6)).alias("neg_s"),
        F.col("weak_label").cast("bigint").alias("y"),
    )
    rk = global_row_number(sc, ["neg_s", "doc_id"])
    d = rk.select(
        F.expr(
            "CAST((_global_rn * 10 + _total_n - 1) div _total_n AS BIGINT)"
        ).alias("decile"),
        "y",
        F.col("_total_n").alias("nn"),
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("pos"),
        F.max("nn").alias("nn"),
    )
    tot = d.agg(F.sum("y").alias("tot_pos"))
    from pyspark.sql.window import Window

    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n",
        "pos",
        F.sum("n").over(w).cast("bigint").alias("cum_n"),
        F.sum("pos").over(w).cast("bigint").alias("cum_pos"),
        "tot_pos",
        "nn",
    )
    return c.select(
        "decile",
        "n",
        "pos",
        "cum_n",
        "cum_pos",
        F.round(
            (F.col("cum_pos").cast("double") / F.col("cum_n"))
            / (F.col("tot_pos").cast("double") / F.col("nn")),
            6,
        ).alias("lift"),
        F.round(
            F.col("cum_pos").cast("double") / F.col("tot_pos"), 6
        ).alias("capture"),
    )


#: studentized-range 5% critical value q(k=5, df=∞) — literal, the
#: OBF/BH threshold-table discipline (both engines embed the same
#: constant; no quantile function exists in either engine)
_TUKEY_Q5 = 3.858


@register(
    "tukey_hsd_value_pairs",
    f"""
    WITH v AS (
      SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS cv
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT g, CAST(count(*) AS BIGINT) AS ni,
        CAST(sum(cv) AS BIGINT) AS s1,
        CAST(sum(cv * cv) AS HUGEINT) AS s2
      FROM v GROUP BY g
    ),
    msw AS (
      SELECT CAST(sum(ni) AS BIGINT) AS nn,
        CAST(count(*) AS BIGINT) AS k,
        sum(CAST(CAST(CAST(ni AS HUGEINT) * s2
              - CAST(s1 AS HUGEINT) * s1 AS VARCHAR) AS DOUBLE) / ni)
          AS ssw
      FROM s
    ),
    pairs AS (
      SELECT a.g AS g_a, b.g AS g_b,
        a.ni AS n_a, b.ni AS n_b,
        a.s1 AS sa, b.s1 AS sb
      FROM s a JOIN s b ON a.g < b.g
    )
    SELECT g_a, g_b, n_a, n_b,
      round((CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b)
            / 100, 6) AS mean_diff,
      round({_TUKEY_Q5} * sqrt(msw.ssw / (msw.nn - msw.k) / 2
        * (1.0 / n_a + 1.0 / n_b)) / 100, 6) AS hsd,
      abs(CAST(sa AS DOUBLE) / n_a - CAST(sb AS DOUBLE) / n_b)
        > {_TUKEY_Q5} * sqrt(msw.ssw / (msw.nn - msw.k) / 2
          * (1.0 / n_a + 1.0 / n_b)) AS significant
    FROM pairs, msw
    """,
)
def q_tukey_hsd_value_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tukey HSD post-hoc pairwise comparisons of mean event value
    across the 5 event types — the PARAMETRIC post-hoc completing the
    pair with dunn_posthoc_value_pairs (Dunn follows Kruskal-Wallis on
    ranks; Tukey follows ANOVA on means, controlling family-wise error
    via the studentized range — q(5,∞)=3.858 enters as a literal, the
    OBF/BH table discipline).

    Exactness: group sums/squares exact on cents (HUGEINT/decimal38);
    within-group SS via the division-free identity Σ(ni·Σx²−(Σx)²)/ni;
    each pair's diff/HSD/flag is one shared IEEE tree, round-6 (the
    flag compares the same unrounded tree both engines build).

    Scale shape: one scan into a ≤|types| frame; 10 pairs after."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("bigint").alias("cv"),
    )
    dec = "decimal(38,0)"
    s = v.groupBy("g").agg(
        F.count(F.lit(1)).alias("ni"),
        F.sum("cv").alias("s1"),
        F.sum(F.col("cv").cast(dec) * F.col("cv")).alias("s2"),
    )
    ssw_term = (
        (
            F.col("ni").cast(dec) * F.col("s2")
            - F.col("s1").cast(dec) * F.col("s1")
        )
        .cast("string")
        .cast("double")
        / F.col("ni")
    )
    msw = s.agg(
        F.sum("ni").alias("nn"),
        F.count(F.lit(1)).alias("k"),
        F.sum(ssw_term).alias("ssw"),
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.g") < F.col("b.g")).select(
        F.col("a.g").alias("g_a"),
        F.col("b.g").alias("g_b"),
        F.col("a.ni").alias("n_a"),
        F.col("b.ni").alias("n_b"),
        F.col("a.s1").alias("sa"),
        F.col("b.s1").alias("sb"),
    )
    diff = (
        F.col("sa").cast("double") / F.col("n_a")
        - F.col("sb").cast("double") / F.col("n_b")
    )
    hsd = F.lit(_TUKEY_Q5) * F.sqrt(
        F.col("ssw")
        / (F.col("nn") - F.col("k"))
        / 2
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return pairs.crossJoin(F.broadcast(msw)).select(
        "g_a",
        "g_b",
        "n_a",
        "n_b",
        F.round(diff / 100, 6).alias("mean_diff"),
        F.round(hsd / 100, 6).alias("hsd"),
        (F.abs(diff) > hsd).alias("significant"),
    )


@register(
    "cramer_von_mises_click_vs_view",
    """
    WITH v AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cv,
        CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    g AS (
      SELECT cv, CAST(sum(a) AS BIGINT) AS t1,
        CAST(sum(1 - a) AS BIGINT) AS t2
      FROM v GROUP BY cv
    ),
    r AS (
      -- doubled average rank for the value block: 2·r̄ =
      -- 2·(cum_before) + (cnt + 1), exact integers
      SELECT cv, t1, t2,
        2 * (CAST(sum(t1 + t2) OVER (ORDER BY cv) AS BIGINT)
             - (t1 + t2)) + (t1 + t2) + 1 AS dr
      FROM g
    ),
    w AS (
      -- doubled within-sample index for the block (average position
      -- inside its own sample, same doubling)
      SELECT cv, t1, t2, dr,
        2 * (CAST(sum(t1) OVER (ORDER BY cv) AS BIGINT) - t1)
          + t1 + 1 AS di1,
        2 * (CAST(sum(t2) OVER (ORDER BY cv) AS BIGINT) - t2)
          + t2 + 1 AS di2
      FROM r
    ),
    uu AS (
      SELECT
        (SELECT CAST(sum(t1) AS BIGINT) FROM g) AS n,
        (SELECT CAST(sum(t2) AS BIGINT) FROM g) AS m,
        CAST(sum(t1 * CAST(dr - di1 AS HUGEINT) * (dr - di1))
             AS HUGEINT) AS u1,
        CAST(sum(t2 * CAST(dr - di2 AS HUGEINT) * (dr - di2))
             AS HUGEINT) AS u2
      FROM w
    )
    SELECT n, m,
      round((CAST(CAST(n AS HUGEINT) * u1 + CAST(m AS HUGEINT) * u2
                  AS VARCHAR)::DOUBLE / 4)
            / (CAST(n AS DOUBLE) * m * (n + m))
            - (4.0 * n * m - 1) / (6.0 * (n + m)), 6) AS cvm_t
    FROM uu
    """,
)
def q_cramer_von_mises_click_vs_view(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Cramér-von Mises criterion for click vs view value
    distributions — the INTEGRATED-difference member completing the
    distribution-comparison family (KS = max gap, sensitive to the
    middle; Wasserstein = area in value units; CvM = mean SQUARED gap
    in probability units, the most powerful of the three against
    spread/shape changes). T = U/(nm(n+m)) − (4nm−1)/(6(n+m)) with
    U = nΣ(r_i−i)² + mΣ(s_j−j)² over pooled vs within-sample ranks.

    Exactness: ties handled by DOUBLED average ranks (2r̄ and 2ī are
    integers — the established doubled-rank discipline), so
    (2r−2i)² = 4(r−i)² keeps U exact in HUGEINT/decimal38 (the /4
    rejoins at the final shared double tree, round-6). Running sums
    over the value HISTOGRAM, not rows.

    Scale shape: one scan into a per-distinct-value histogram; the
    running sums are windows over that bounded frame (plan-pinned
    family; swap to global_running_sum at true 100 TB cardinality)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
        & F.col("value").isNotNull()
    )
    v = ev.select(
        F.round(F.col("value") * 100).cast("bigint").alias("cv"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a"),
    )
    g = v.groupBy("cv").agg(
        F.sum("a").alias("t1"), F.sum(1 - F.col("a")).alias("t2")
    )
    w = Window.orderBy("cv").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = F.col("t1") + F.col("t2")
    r = g.select(
        "cv",
        "t1",
        "t2",
        (
            2 * (F.sum(tot).over(w) - tot) + tot + 1
        ).cast("bigint").alias("dr"),
        (
            2 * (F.sum("t1").over(w) - F.col("t1")) + F.col("t1") + 1
        ).cast("bigint").alias("di1"),
        (
            2 * (F.sum("t2").over(w) - F.col("t2")) + F.col("t2") + 1
        ).cast("bigint").alias("di2"),
    )
    dec = "decimal(38,0)"
    uu = r.agg(
        F.sum("t1").alias("n"),
        F.sum("t2").alias("m"),
        F.sum(
            F.col("t1")
            * (F.col("dr") - F.col("di1")).cast(dec)
            * (F.col("dr") - F.col("di1"))
        ).alias("u1"),
        F.sum(
            F.col("t2")
            * (F.col("dr") - F.col("di2")).cast(dec)
            * (F.col("dr") - F.col("di2"))
        ).alias("u2"),
    )
    nd = F.col("n").cast("double")
    md = F.col("m").cast("double")
    u_comb = (
        (
            F.col("n").cast(dec) * F.col("u1")
            + F.col("m").cast(dec) * F.col("u2")
        )
        .cast("string")
        .cast("double")
        / 4
    )
    return uu.select(
        "n",
        "m",
        F.round(
            u_comb / (nd * md * (nd + md))
            - (4.0 * nd * md - 1) / (6.0 * (nd + md)),
            6,
        ).alias("cvm_t"),
    )


@register(
    "periodogram_daily_volume",
    f"""
    WITH dv AS (
      SELECT {_DAY_SQL} AS day, CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS t,
        v, (SELECT CAST(count(*) AS BIGINT) FROM dv) AS n
      FROM dv
    ),
    terms AS (
      SELECT k.k, idx.n,
        CAST(floor(v * cos(2 * 3.141592653589793 * k.k * t / n)
             * 1000000) AS BIGINT) AS ct,
        CAST(floor(v * sin(2 * 3.141592653589793 * k.k * t / n)
             * 1000000) AS BIGINT) AS st
      FROM idx, (SELECT unnest(generate_series(1, 7)) AS k) k
    ),
    pw AS (
      SELECT k, max(n) AS n,
        CAST(sum(ct) AS HUGEINT) AS sc, CAST(sum(st) AS HUGEINT) AS ss
      FROM terms GROUP BY k
    ),
    p2 AS (
      SELECT k, n,
        CAST(CAST(sc * sc + ss * ss AS VARCHAR) AS DOUBLE) AS praw
      FROM pw
    )
    SELECT k AS freq_k, n AS n_days,
      round(praw / 1e12, 3) AS power,
      praw = (SELECT max(praw) FROM p2) AS dominant
    FROM (SELECT k, n, raw AS praw FROM (SELECT k, n, raw FROM
      (SELECT k, n, praw AS raw FROM p2)))
    """,
)
def q_periodogram_daily_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Discrete-Fourier periodogram of the daily volume at frequencies
    k=1..7 cycles per series — the SPECTRAL seasonality view
    completing the family (seasonality_autocorr reads lag-domain ACF;
    the periodogram reads the frequency domain, and the `dominant`
    flag names the cycle a scheduler should align to — ~k≈4 for a
    weekly cycle on a 30-day window).

    Exactness: per-(k, t) terms v·cos/sin(2πkt/n) are floored to 1e6
    fixed point BEFORE summation (the perplexity/NB floored-fp
    discipline — identical double angle inputs, so cos/sin agree and
    the integer sums are associative); powers sc²+ss² are exact
    HUGEINT/decimal38, crossed via string→double once.

    Scale shape: one corpus hash agg; the 7-frequency fanout runs
    over the |days| frame (≤210 rows)."""
    from pyspark.sql.window import Window

    dv = _daily_volume(spark, sf_dir)
    n = dv.agg(F.count(F.lit(1)).alias("n"))
    idx = dv.crossJoin(F.broadcast(n)).select(
        (F.row_number().over(Window.orderBy("day")) - 1)
        .cast("bigint")
        .alias("t"),
        "v",
        "n",
    )
    ks = spark.range(1, 8).select(F.col("id").alias("k"))
    ang = (
        F.lit(2.0)
        * F.lit(3.141592653589793)
        * F.col("k")
        * F.col("t")
        / F.col("n")
    )
    terms = idx.crossJoin(F.broadcast(ks)).select(
        "k",
        "n",
        F.floor(F.col("v") * F.cos(ang) * 1000000)
        .cast("bigint")
        .alias("ct"),
        F.floor(F.col("v") * F.sin(ang) * 1000000)
        .cast("bigint")
        .alias("st"),
    )
    dec = "decimal(38,0)"
    pw = terms.groupBy("k").agg(
        F.max("n").alias("n"),
        F.sum("ct").cast(dec).alias("sc"),
        F.sum("st").cast(dec).alias("ss"),
    )
    p2 = pw.select(
        "k",
        "n",
        (F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
        .cast("string")
        .cast("double")
        .alias("praw"),
    )
    mx = p2.agg(F.max("praw").alias("mx"))
    return p2.crossJoin(F.broadcast(mx)).select(
        F.col("k").alias("freq_k"),
        F.col("n").alias("n_days"),
        F.round(F.col("praw") / 1e12, 3).alias("power"),
        (F.col("praw") == F.col("mx")).alias("dominant"),
    )


@register(
    "newey_west_trend_se",
    f"""
    WITH dv AS (
      SELECT {_DAY_SQL} AS x, CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        CAST(sum(x * x) AS BIGINT) AS sxx,
        CAST(sum(x * y) AS BIGINT) AS sxy
      FROM dv
    ),
    r AS (
      SELECT x, n, sx,
        n * sxx - sx * sx AS d,
        n * sxy - sx * sy AS nb,
        CAST(n * x - sx AS HUGEINT)
          * (CAST((n * sxx - sx * sx) AS HUGEINT) * (n * y - sy)
             - CAST((n * sxy - sx * sy) AS HUGEINT) * (n * x - sx))
          AS p
      FROM dv, s
    ),
    hac AS (
      SELECT
        (SELECT max(n) FROM r) AS n,
        (SELECT max(d) FROM r) AS d,
        (SELECT max(nb) FROM r) AS nb,
        (SELECT CAST(CAST(sum(a.p * b.p * (4 - (b.x - a.x)))
                AS VARCHAR) AS DOUBLE)
         FROM r a JOIN r b ON b.x - a.x BETWEEN 1 AND 3) AS off_w,
        (SELECT CAST(CAST(sum(4 * p * p) AS VARCHAR) AS DOUBLE)
         FROM r) AS diag_w,
        (SELECT CAST(CAST(sum(p * p) AS VARCHAR) AS DOUBLE)
         FROM r) AS diag_1
    )
    SELECT n,
      round(CAST(nb AS DOUBLE) / d, 6) AS slope,
      round(sqrt((diag_w + 2 * off_w) / 4)
        / (CAST(n AS DOUBLE) * d * d), 6) AS nw_se,
      round(sqrt(diag_1)
        / (CAST(n AS DOUBLE) * d * d), 6) AS hc0_se
    FROM hac
    """,
)
def q_newey_west_trend_se(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newey-West (HAC, Bartlett kernel, L=3) standard error for the
    daily-volume OLS slope, next to the heteroskedasticity-only HC0 —
    the honest error bar when durbin_watson says residuals are
    autocorrelated (the plain OLS se understates under positive
    autocorrelation, which is exactly when growth dashboards
    over-claim trends).

    Exactness: P_t = x̃_t·E_t (centered regressor × scaled residual)
    is an exact integer (decimal38); the Bartlett weights
    (1 − l/4, l ≤ 3) enter ×4 as integers, so the kernel sum
    Σ(4−l)·P_t·P_s is EXACT — one string→double crossing; slope and
    the two se assemble as shared trees (the common (nD)² residual
    scale divides out once), round-6.

    Scale shape: one corpus hash agg; the lag-window self-join is
    calendar-bounded (≤|days|·3 pairs)."""
    dv = _daily_volume(spark, sf_dir).select(
        F.col("day").alias("x"), F.col("v").alias("y")
    )
    s = dv.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    dec = "decimal(38,0)"
    d_ = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    nb_ = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = dv.crossJoin(F.broadcast(s)).select(
        "x",
        "n",
        d_.alias("d"),
        nb_.alias("nb"),
        (
            (F.col("n") * F.col("x") - F.col("sx"))
            * (
                d_.cast(dec) * (F.col("n") * F.col("y") - F.col("sy"))
                - nb_.cast(dec) * (F.col("n") * F.col("x") - F.col("sx"))
            )
        ).alias("p"),
    )
    a, b = r.alias("a"), r.alias("b")
    off = (
        a.join(
            F.broadcast(b),
            (F.col("b.x") - F.col("a.x")).between(1, 3),
        )
        .agg(
            F.sum(
                F.col("a.p")
                * F.col("b.p")
                * (F.lit(4) - (F.col("b.x") - F.col("a.x")))
            ).alias("off_w")
        )
    )
    diag = r.agg(
        F.max("n").alias("n"),
        F.max("d").alias("d"),
        F.max("nb").alias("nb"),
        F.sum(F.lit(4) * F.col("p") * F.col("p")).alias("diag_w"),
        F.sum(F.col("p") * F.col("p")).alias("diag_1"),
    )
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    nd = F.col("n").cast("double")
    # se = sqrt(S)/(n·D²): P carries x̃=n(x−x̄) (×n) and E=nD·e
    # (×nD), so S = (nD)²n²·Num_true and Var = Num_true/Sxx² with
    # Sxx = D/n — the scales cancel to n·D² exactly
    denom = nd * F.col("d") * F.col("d")
    return diag.crossJoin(F.broadcast(off)).select(
        "n",
        F.round(F.col("nb").cast("double") / F.col("d"), 6).alias(
            "slope"
        ),
        F.round(
            F.sqrt((sd("diag_w") + 2 * sd("off_w")) / 4) / denom, 6
        ).alias("nw_se"),
        F.round(F.sqrt(sd("diag_1")) / denom, 6).alias("hc0_se"),
    )


_PPR_ITERS = 10


@register(
    "ppr_recommend_parts",
    f"""
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1)
        IN ('0','1','2','3')
    ),
    e AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (
      SELECT pa AS src, pb AS dst FROM e
      UNION ALL SELECT pb, pa FROM e
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS od
            FROM sym GROUP BY src),
    seed AS (
      SELECT src AS sd FROM deg ORDER BY od DESC, src LIMIT 1
    ),
    e2 AS (SELECT s.src, s.dst, d.od
           FROM sym s JOIN deg d ON d.src = s.src),
    pr(it, node, r) AS (
      SELECT 0, src,
        CAST(CASE WHEN src = (SELECT sd FROM seed)
             THEN 1000000000000 ELSE 0 END AS BIGINT)
      FROM (SELECT DISTINCT src FROM e2)
      UNION ALL
      SELECT it + 1, dst,
        CAST(CASE WHEN dst = (SELECT sd FROM seed)
             THEN 150000000000 ELSE 0 END
             + (85 * c) // 100 AS BIGINT)
      FROM (
        WITH cur AS (SELECT * FROM pr)
        SELECT e2.dst, max(cur.it) AS it, sum(cur.r // e2.od) AS c
        FROM e2 JOIN cur ON cur.node = e2.src
        WHERE cur.it < {_PPR_ITERS}
        GROUP BY e2.dst
      )
    ),
    final AS (SELECT node, r FROM pr WHERE it = {_PPR_ITERS})
    SELECT node AS part, r AS ppr_fp,
      CAST(row_number() OVER (ORDER BY r DESC, node ASC) AS BIGINT)
        AS rank
    FROM final QUALIFY rank <= 20
    """,
)
def q_ppr_recommend_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by PERSONALIZED PageRank from the max-degree seed
    part over the sampled co-purchase graph — the 'customers who
    bought X also orbit these' recommendation ranking (global
    pagerank_parts_copurchase ranks overall centrality; PPR ranks
    proximity to ONE item, which is what a product page shows). Same
    fixed-point integer recurrence (restart mass at the seed, 85% DIV
    damping), so the recursive-CTE oracle certifies the rank VALUES
    bit-for-bit.

    Scale shape: per round one keyed join + hash agg (pagerank
    discipline, lineage checkpoint-truncated); the seed argmax is a
    TakeOrdered(1)."""
    from ..operators.graphs import personalized_pagerank_integer
    from pyspark.sql.window import Window

    e = copurchase_edges(spark, sf_dir)
    ranks = personalized_pagerank_integer(e, iterations=_PPR_ITERS)
    w = Window.orderBy(F.desc("r"), F.asc("node"))
    return (
        ranks.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select(
            F.col("node").alias("part"),
            F.col("r").alias("ppr_fp"),
            "rank",
        )
    )


@register(
    "seasonal_mann_kendall_daily",
    f"""
    WITH dv AS (
      SELECT {_DAY_SQL} AS day, CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    sd AS (SELECT day, day % 7 AS dow, v FROM dv),
    s AS (
      SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1
                           WHEN b.v < a.v THEN -1 ELSE 0 END)
             AS BIGINT) AS s_stat
      FROM sd a JOIN sd b ON a.dow = b.dow AND b.day > a.day
    ),
    ns AS (SELECT dow, CAST(count(*) AS BIGINT) AS n FROM sd
           GROUP BY dow),
    ties AS (
      SELECT COALESCE(CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
        AS tt
      FROM (SELECT dow, v, CAST(count(*) AS BIGINT) AS t FROM sd
            GROUP BY dow, v HAVING count(*) > 1)
    ),
    var18 AS (
      SELECT CAST(sum(n * (n - 1) * (2 * n + 5)) AS BIGINT)
        - (SELECT tt FROM ties) AS v18
      FROM ns
    )
    SELECT s.s_stat, var18.v18 AS var_x18,
      round(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                 WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                 ELSE 0 END
            / sqrt(CAST(var18.v18 AS DOUBLE) / 18), 6) AS z
    FROM s, var18
    """,
)
def q_seasonal_mann_kendall_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal Mann-Kendall trend test: sign comparisons only WITHIN
    each day-of-week season (Hirsch & Slack — the hydrology standard)
    — the deseasonalized twin of mann_kendall_trend_daily, which a
    weekly cycle can fool in either direction (a Monday-vs-Sunday
    comparison is cycle, not trend; this test never makes one).

    Exactness: S is a pure integer sign sum over within-season pairs;
    the H0 variance (with the tie correction) is kept ×18 as an exact
    integer; the continuity-corrected z is one shared tree, round-6.

    Scale shape: one corpus hash agg; the pair join is within-season
    calendar-bounded (7 seasons × C(|weeks|,2))."""
    dv = _daily_volume(spark, sf_dir)
    sd = dv.select("day", (F.col("day") % 7).alias("dow"), "v")
    a, b = sd.alias("a"), sd.alias("b")
    s = (
        a.join(
            F.broadcast(b),
            (F.col("a.dow") == F.col("b.dow"))
            & (F.col("b.day") > F.col("a.day")),
        )
        .agg(
            F.sum(
                F.when(F.col("b.v") > F.col("a.v"), 1)
                .when(F.col("b.v") < F.col("a.v"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    ns = sd.groupBy("dow").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        sd.groupBy("dow", "v")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tt")
        )
    )
    var18 = (
        ns.agg(
            F.sum(
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            ).alias("raw")
        )
        .crossJoin(F.broadcast(ties))
        .select((F.col("raw") - F.col("tt")).alias("v18"))
    )
    cc = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(F.lit(0))
    )
    return s.crossJoin(F.broadcast(var18)).select(
        "s_stat",
        F.col("v18").alias("var_x18"),
        F.round(
            cc / F.sqrt(F.col("v18").cast("double") / 18), 6
        ).alias("z"),
    )


@register(
    "kendalls_w_type_day_concordance",
    f"""
    WITH dv AS (
      SELECT event_type AS g, {_DAY_SQL} AS day,
        CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    r0 AS (
      SELECT g, day, v,
        row_number() OVER (PARTITION BY g ORDER BY v, day) AS rn
      FROM dv
    ),
    rr AS (
      -- doubled tie-averaged rank: 2·r̄ = min_rank + max_rank over
      -- the (g, v) tie group — integers by construction
      SELECT g, day,
        CAST(min(rn) OVER (PARTITION BY g, v)
           + max(rn) OVER (PARTITION BY g, v) AS BIGINT) AS dr
      FROM r0
    ),
    ri AS (
      SELECT day, CAST(sum(dr) AS BIGINT) AS r2 FROM rr GROUP BY day
    ),
    tcorr AS (
      SELECT COALESCE(CAST(sum(t * t * t - t) AS BIGINT), 0) AS tsum
      FROM (SELECT g, v, CAST(count(*) AS BIGINT) AS t FROM dv
            GROUP BY g, v HAVING count(*) > 1)
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        (SELECT CAST(count(DISTINCT g) AS BIGINT) FROM dv) AS k,
        CAST(sum(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS sr2,
        (SELECT tsum FROM tcorr) AS tsum
      FROM ri
    )
    SELECT n, k,
      round((12.0 * CAST(CAST(sr2 AS VARCHAR) AS DOUBLE)
             - 12.0 * k * k * n * ((n + 1) * (n + 1)))
            / (4.0 * (CAST(k AS DOUBLE) * k * n * (n * n - 1)
                      - k * tsum)), 6) AS w
    FROM agg
    """,
)
def q_kendalls_w_type_day_concordance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall's W (coefficient of concordance): do the 5 event types
    AGREE which days are busy? Each type ranks the days by its own
    daily count; W∈[0,1] measures agreement among the k rankers —
    the multi-ranker generalization of spearman_matrix_daily_volumes'
    pairwise view (W≈(1+(k−1)·mean ρ)/k), and the day-axis dual of
    friedman_event_counts (Friedman tests the same statistic as a
    null hypothesis; W reports effect size).

    Exactness: within-type day ranks use DOUBLED average ranks
    (strict-rank subquery + tie-group averaging keeps them integers);
    R_i sums and ΣR² are exact (HUGEINT for the square); the tie
    correction Σ(t³−t) is integer. W assembles as one shared tree on
    5 exact ints. Doubling absorbed: with sr2 = Σ(2R̄)² = 4ΣR̄², the
    standard W = (12ΣR̄² − 3k²n(n+1)²)/(k²n(n²−1) − kT) becomes
    (12·sr2 − 12k²n(n+1)²)/(4·(k²n(n²−1) − kT)) — both terms scaled
    ×4 (r11 fix: the sr2 term was previously under-scaled by 4,
    yielding W outside [0,1]); round-6.

    Scale shape: one scan into the (type, day) grid; rank machinery
    runs on ≤ k·|days| rows."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    dv = (
        ev.select("event_type", F.expr(_DAY).alias("day"))
        .groupBy(F.col("event_type").alias("g"), "day")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    # doubled tie-averaged rank within type: 2·r̄ = min_rank + max_rank
    wg = Window.partitionBy("g").orderBy("v", "day")
    wtie = Window.partitionBy("g", "v")
    rr = dv.select(
        "g",
        "day",
        "v",
        (
            F.min(F.row_number().over(wg)).over(wtie)
            + F.max(F.row_number().over(wg)).over(wtie)
        ).cast("bigint").alias("dr"),
    )
    ri = rr.groupBy("day").agg(F.sum("dr").alias("r2"))
    tcorr = (
        dv.groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * F.col("t") * F.col("t") - F.col("t")
                ),
                F.lit(0),
            ).alias("tsum")
        )
    )
    kf = dv.agg(F.countDistinct("g").alias("k"))
    dec = "decimal(38,0)"
    agg = (
        ri.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("r2").cast(dec) * F.col("r2")).alias("sr2"),
        )
        .crossJoin(F.broadcast(kf))
        .crossJoin(F.broadcast(tcorr))
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    return agg.select(
        "n",
        "k",
        F.round(
            (
                12.0 * F.col("sr2").cast("string").cast("double")
                - 12.0
                * F.col("k")
                * F.col("k")
                * F.col("n")
                * ((F.col("n") + 1) * (F.col("n") + 1))
            )
            / (
                4.0
                * (
                    kd * F.col("k") * F.col("n")
                    * (F.col("n") * F.col("n") - 1)
                    - F.col("k") * F.col("tsum")
                )
            ),
            6,
        ).alias("w"),
    )


@register(
    "distance_correlation_click_purchase",
    f"""
    WITH dv AS (
      SELECT {_DAY_SQL} AS day,
        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT) AS a,
        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS BIGINT) AS b
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dv),
    d AS (
      SELECT x.day AS i, y.day AS j,
        abs(x.a - y.a) AS da, abs(x.b - y.b) AS db
      FROM dv x, dv y
    ),
    rs AS (
      SELECT i, CAST(sum(da) AS BIGINT) AS ra,
        CAST(sum(db) AS BIGINT) AS rb
      FROM d GROUP BY i
    ),
    tot AS (
      SELECT CAST(sum(da) AS BIGINT) AS sa,
        CAST(sum(db) AS BIGINT) AS sb
      FROM d
    ),
    ctr AS (
      -- double-centered distances ×n²:
      -- Ã = n²d − n·rowsum_i − n·rowsum_j + total (symmetric d)
      SELECT
        n.n * n.n * d.da - n.n * ri.ra - n.n * rj.ra + tot.sa AS ca,
        n.n * n.n * d.db - n.n * ri.rb - n.n * rj.rb + tot.sb AS cb
      FROM d
      JOIN rs ri ON ri.i = d.i
      JOIN rs rj ON rj.i = d.j
      CROSS JOIN n CROSS JOIN tot
    ),
    ss AS (
      SELECT
        CAST(sum(CAST(ca AS HUGEINT) * cb) AS HUGEINT) AS sab,
        CAST(sum(CAST(ca AS HUGEINT) * ca) AS HUGEINT) AS saa,
        CAST(sum(CAST(cb AS HUGEINT) * cb) AS HUGEINT) AS sbb
      FROM ctr
    )
    SELECT (SELECT n FROM n) AS n_days,
      CAST(CAST(sab AS VARCHAR) AS BIGINT) AS sab,
      CAST(CAST(saa AS VARCHAR) AS BIGINT) AS saa,
      CAST(CAST(sbb AS VARCHAR) AS BIGINT) AS sbb,
      round(sqrt(CAST(CAST(sab AS VARCHAR) AS DOUBLE)
        / sqrt(CAST(CAST(saa AS VARCHAR) AS DOUBLE)
               * CAST(CAST(sbb AS VARCHAR) AS DOUBLE))), 6) AS dcor
    FROM ss
    """,
)
def q_distance_correlation_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distance correlation (Székely) between daily click and purchase
    volumes — the dependence measure that is ZERO iff independent
    (Pearson/Spearman miss non-monotone coupling; dCor catches any
    functional relationship), the modern first look before modelling
    one series from another. dCor² = ΣÃB̃/√(ΣÃ²·ΣB̃²) over
    double-centered distance matrices.

    Exactness: distances |Δ| are integers; double-centering is kept
    EXACT by scaling ×n² (Ã = n²d − n·r_i − n·r_j + s — the n-scaled
    centering discipline), so all three inner products are exact
    HUGEINT/decimal38 sums whose n² factors cancel in the ratio; one
    string→double crossing, round-6. The three raw sums ride along as
    integer certificates.

    Scale shape: one corpus hash agg to the |days| frame; the |days|²
    distance grid (~900 rows) is calendar-bounded."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    dv = (
        ev.select(F.expr(_DAY).alias("day"), "event_type")
        .groupBy("day")
        .agg(
            F.sum(
                (F.col("event_type") == "click").cast("bigint")
            ).alias("a"),
            F.sum(
                (F.col("event_type") == "purchase").cast("bigint")
            ).alias("b"),
        )
    )
    n = dv.agg(F.count(F.lit(1)).alias("n"))
    x, y = dv.alias("x"), dv.alias("y")
    d = x.crossJoin(F.broadcast(y)).select(
        F.col("x.day").alias("i"),
        F.col("y.day").alias("j"),
        F.abs(F.col("x.a") - F.col("y.a")).alias("da"),
        F.abs(F.col("x.b") - F.col("y.b")).alias("db"),
    )
    rs = d.groupBy("i").agg(
        F.sum("da").alias("ra"), F.sum("db").alias("rb")
    )
    tot = d.agg(F.sum("da").alias("sa"), F.sum("db").alias("sb"))
    ri = rs.select(
        F.col("i").alias("_i"), F.col("ra").alias("ria"),
        F.col("rb").alias("rib"),
    )
    rj = rs.select(
        F.col("i").alias("_j"), F.col("ra").alias("rja"),
        F.col("rb").alias("rjb"),
    )
    nn = F.col("n") * F.col("n")
    ctr = (
        d.join(F.broadcast(ri), F.col("_i") == F.col("i"))
        .join(F.broadcast(rj), F.col("_j") == F.col("j"))
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tot))
        .select(
            (
                nn * F.col("da")
                - F.col("n") * F.col("ria")
                - F.col("n") * F.col("rja")
                + F.col("sa")
            ).alias("ca"),
            (
                nn * F.col("db")
                - F.col("n") * F.col("rib")
                - F.col("n") * F.col("rjb")
                + F.col("sb")
            ).alias("cb"),
        )
    )
    dec = "decimal(38,0)"
    ss = ctr.agg(
        F.sum(F.col("ca").cast(dec) * F.col("cb")).alias("sab"),
        F.sum(F.col("ca").cast(dec) * F.col("ca")).alias("saa"),
        F.sum(F.col("cb").cast(dec) * F.col("cb")).alias("sbb"),
    )
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    return ss.crossJoin(F.broadcast(n)).select(
        F.col("n").alias("n_days"),
        F.col("sab").cast("string").cast("bigint").alias("sab"),
        F.col("saa").cast("string").cast("bigint").alias("saa"),
        F.col("sbb").cast("string").cast("bigint").alias("sbb"),
        F.round(
            F.sqrt(sd("sab") / F.sqrt(sd("saa") * sd("sbb"))), 6
        ).alias("dcor"),
    )


# ε² on floor(x·1000) integer codes: measured natural min pairwise
# dist² ≈ 1.0e6 at every SF; planted-knot pairs sit ≤ ~50 — 1e4 splits
# the two regimes by 2 orders of magnitude each way
_DBSCAN_EPS2 = 10_000
_DBSCAN_MINPTS = 3
_DBSCAN_GRID = 100  # cell side = ε = √ε² in integer code units


def _dbscan_candidate_pairs(q: DataFrame) -> DataFrame:
    """ε-grid candidate generator for DBSCAN (r11, replacing the
    crossJoin): cells of side ε on the 2 leading quantized dims; any
    ε-pair has |δᵢ| ≤ ε per dim, so floor(code/ε) cell indices differ
    by ≤1 and the pair lives in the 3×3 neighborhood of either home
    cell. Probe side = each point exploded to its 9 neighbor cells,
    build side = home cell, equi-join on (c0, c1), then the EXACT
    integer Σδ² ≤ ε² filter — edge set identical to all-pairs (no
    false negatives by the adjacency argument; each unordered pair
    matched exactly once because the build side's home cell is
    unique and ib > ia kills the mirror orientation). The +1e9 shift
    makes integer DIV an exact floor for negative codes.

    `q` must have (vec_id, qv: array<bigint>). Returns (ia, ib), lazy
    (caller checkpoints) so plan tests can assert the join shape."""
    cell = lambda i: F.expr(  # noqa: E731
        f"(qv[{i}] + 1000000000L) DIV {_DBSCAN_GRID}"
    )
    qc = q.select(
        "vec_id", "qv", cell(0).alias("c0"), cell(1).alias("c1")
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    a = qc.select(
        F.col("vec_id").alias("ia"),
        F.col("qv").alias("qa"),
        "c0",
        "c1",
        F.explode(offs).alias("off"),
    ).select(
        "ia",
        "qa",
        (F.col("c0") + F.col("off.dx")).alias("c0"),
        (F.col("c1") + F.col("off.dy")).alias("c1"),
    )
    b = qc.select(
        F.col("vec_id").alias("ib"), F.col("qv").alias("qb"), "c0", "c1"
    )
    dist2 = F.expr(
        "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), "
        "CAST(0 AS BIGINT), (s, d) -> s + d)"
    )
    return (
        a.join(b, ["c0", "c1"])
        .filter(F.col("ib") > F.col("ia"))
        .filter(dist2 <= _DBSCAN_EPS2)
        .select("ia", "ib")
    )


def _dbscan_oracle() -> str:
    return f"""
    WITH RECURSIVE base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id % 4 = 0
    ),
    corpus AS (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + 10000000 * c.c,
        list_concat([v[1] + 0.002 * c.c], v[2:])
      FROM base, (SELECT unnest(generate_series(1, 3)) AS c) c
      WHERE vec_id % 12 = 0
    ),
    q AS (
      SELECT vec_id,
        list_transform(v, x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
      FROM corpus
    ),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM q a JOIN q b ON b.vec_id > a.vec_id
      WHERE CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
          i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])))
        AS BIGINT) <= {_DBSCAN_EPS2}
    ),
    nbr AS (
      SELECT ia AS p, ib AS o FROM pairs
      UNION ALL SELECT ib, ia FROM pairs
    ),
    core AS (
      SELECT p FROM nbr GROUP BY p
      HAVING count(*) + 1 >= {_DBSCAN_MINPTS}
    ),
    ce AS (
      SELECT n.p AS a, n.o AS b FROM nbr n
      JOIN core c1 ON c1.p = n.p JOIN core c2 ON c2.p = n.o
    ),
    nodes AS (SELECT p AS node FROM core),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lab FROM reach r JOIN ce e ON e.a = r.node
    ),
    assign AS (SELECT node, MIN(lab) AS cluster FROM reach
               GROUP BY node),
    border AS (
      SELECT n.p AS vec_id, MIN(a.cluster) AS cluster
      FROM nbr n JOIN assign a ON a.node = n.o
      WHERE n.p NOT IN (SELECT p FROM core)
      GROUP BY n.p
    )
    SELECT q.vec_id,
      CASE WHEN a.node IS NOT NULL THEN 'core'
           WHEN b.vec_id IS NOT NULL THEN 'border'
           ELSE 'noise' END AS role,
      COALESCE(a.cluster, b.cluster, -1) AS cluster
    FROM q
    LEFT JOIN assign a ON a.node = q.vec_id
    LEFT JOIN border b ON b.vec_id = q.vec_id
    """


@register("dbscan_embeddings", _dbscan_oracle())
def q_dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN over a sampled embedding slice with planted dense knots
    (3 jittered copies of every 12th sampled vector): core points
    (≥ minPts=3 neighbors within ε, self included), clusters =
    connected components over core-core ε-edges, borders adopt their
    MIN core neighbor's cluster, the rest is noise — the
    DENSITY-BASED member completing the clustering family
    (kmeans_assign_step = centroidal, semdedup = threshold-graph;
    DBSCAN distinguishes core/border/noise, which is how outlier-
    aware curation prunes). The synthetic embeddings have no natural
    ε-dense regions (measured), so the planted knots are the signal
    and everything natural certifies as noise.

    Exactness: distances are exact integer Σδ² on floor(x·1000)
    codes (the semdedup_cluster_cap quantization); ε², minPts are
    literals; CC via the recursive-CTE oracle; border tie-break =
    MIN cluster.

    Scale shape (r11): the candidate join is an ε-GRID CELL EQUI-JOIN,
    not a cartesian — cells of side ε=√ε²=100 code units on the two
    leading quantized dims; |δᵢ| ≤ 100 per dim for any ε-pair, so
    floor(code/100) cell indices differ by ≤1 and every true pair
    lives in the 3×3 neighborhood of either point's home cell. The
    probe side explodes each point to its 9 neighbor cells, the build
    side keeps the home cell, and the join is an equi-join on
    (c0, c1); the exact integer Σδ² filter then prunes false cell
    cohabitants, so the EDGE SET is identical to the all-pairs form
    (the committed oracle is unchanged and still certifies it).
    Candidates are Σ_cell |probe∩cell|·|home cell| ≈ 9·density·N
    instead of N²/2 — linear in N at fixed density (probed sub-
    quadratic, NOTES.md "r11": disjoint replicas at
    N×{{1,4,10}}). Floor division is computed as (code+10⁹) DIV 100 —
    an exact floor for these |code| ≤ ~526 inputs, immune to DIV's
    truncation toward zero. CC runs on core edges only."""
    from ..operators.dedup import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 == 0).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    copies = (
        base.filter(F.col("vec_id") % 12 == 0)
        .withColumn(
            "c", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
        )
        .select(
            (F.col("vec_id") + 10_000_000 * F.col("c")).alias("vec_id"),
            F.expr(
                "concat(array(v[0] + 0.002 * c), slice(v, 2, size(v) - 1))"
            ).alias("v"),
        )
    )
    corpus = base.unionByName(copies)
    q = corpus.select(
        "vec_id",
        F.expr(
            "transform(v, x -> CAST(floor(x * 1000) AS BIGINT))"
        ).alias("qv"),
    )
    pairs = _dbscan_candidate_pairs(q).localCheckpoint()
    nbr = pairs.select(
        F.col("ia").alias("p"), F.col("ib").alias("o")
    ).unionByName(
        pairs.select(F.col("ib").alias("p"), F.col("ia").alias("o"))
    )
    core = (
        nbr.groupBy("p")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") + 1 >= _DBSCAN_MINPTS)
        .select("p")
    )
    c1 = core.select(F.col("p").alias("ia"))
    c2 = core.select(F.col("p").alias("ib"))
    ce = pairs.join(c1, "ia").join(c2, "ib")
    assign = connected_components(ce, a_col="ia", b_col="ib")
    border = (
        nbr.join(core, "p", "left_anti")
        .join(
            assign.select(
                F.col("node").alias("o"), F.col("cluster").alias("bc")
            ),
            "o",
        )
        .groupBy("p")
        .agg(F.min("bc").alias("bcluster"))
    )
    return (
        q.select("vec_id")
        .join(
            assign.select(
                F.col("node").alias("vec_id"),
                F.col("cluster").alias("ccluster"),
            ),
            "vec_id",
            "left",
        )
        .join(
            border.select(
                F.col("p").alias("vec_id"), "bcluster"
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.when(F.col("ccluster").isNotNull(), "core")
            .when(F.col("bcluster").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("ccluster", "bcluster", F.lit(-1)).alias(
                "cluster"
            ),
        )
    )


@register(
    "evt_gumbel_daily_peak",
    f"""
    WITH hv AS (
      SELECT {_DAY_SQL} AS day,
        epoch_ns(ts) // 1000 // 3600000000 AS hr,
        CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    dm AS (SELECT day, CAST(max(v) AS BIGINT) AS mx FROM hv
           GROUP BY day),
    o AS (
      SELECT mx,
        CAST(row_number() OVER (ORDER BY mx, day) AS BIGINT) AS i,
        (SELECT CAST(count(*) AS BIGINT) FROM dm) AS n
      FROM dm
    ),
    pwm AS (
      SELECT max(n) AS n,
        CAST(sum(mx) AS BIGINT) AS s0,
        CAST(sum((i - 1) * mx) AS BIGINT) AS s1
      FROM o
    )
    SELECT n AS n_days,
      round(CAST(s0 AS DOUBLE) / n, 6) AS b0,
      round((2.0 * s1 / (CAST(n AS DOUBLE) * (n - 1))
             - CAST(s0 AS DOUBLE) / n) / ln(2.0), 6) AS beta,
      round(CAST(s0 AS DOUBLE) / n - 0.5772156649015329
        * ((2.0 * s1 / (CAST(n AS DOUBLE) * (n - 1))
            - CAST(s0 AS DOUBLE) / n) / ln(2.0)), 6) AS mu,
      round(CAST(s0 AS DOUBLE) / n - 0.5772156649015329
        * ((2.0 * s1 / (CAST(n AS DOUBLE) * (n - 1))
            - CAST(s0 AS DOUBLE) / n) / ln(2.0))
        - ((2.0 * s1 / (CAST(n AS DOUBLE) * (n - 1))
            - CAST(s0 AS DOUBLE) / n) / ln(2.0))
          * ln(-ln(1.0 - 1.0 / 30.0)), 6) AS ret_level_30d
    FROM pwm
    """,
)
def q_evt_gumbel_daily_peak(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Extreme-value (Gumbel) fit to the DAILY PEAK hourly volume via
    probability-weighted moments — capacity planning's question ('how
    big an hourly burst should we provision for?') answered by block
    maxima, which the mean/percentile family structurally
    under-estimates. PWM is the closed-form estimator (Landwehr et
    al.): β = (2b₁−b₀)/ln2, μ = b₀ − γβ; the 30-day return level
    μ − β·ln(−ln(1−1/30)) is the headline number.

    Exactness: block maxima are exact integers; the PWM sums Σx and
    Σ(i−1)x over the SORTED maxima are exact BIGINTs (order statistics
    with (mx, day) tie-break); estimates are one shared tree with ln2
    and Euler-γ as literals, round-6.

    Scale shape: one corpus hash agg per (day, hour) then a ≤|days|
    max agg; the rank/PWM machinery touches ≤|days| rows."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    hv = (
        ev.select(
            F.expr(_DAY).alias("day"),
            F.expr("unix_micros(ts) div 3600000000").alias("hr"),
        )
        .groupBy("day", "hr")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    dm = hv.groupBy("day").agg(F.max("v").alias("mx"))
    o = dm.select(
        "mx",
        F.row_number()
        .over(Window.orderBy("mx", "day"))
        .cast("bigint")
        .alias("i"),
    )
    pwm = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").alias("s0"),
        F.sum((F.col("i") - 1) * F.col("mx")).alias("s1"),
    )
    nd = F.col("n").cast("double")
    b0 = F.col("s0").cast("double") / F.col("n")
    b1x2 = 2.0 * F.col("s1") / (nd * (F.col("n") - 1))
    beta = (b1x2 - b0) / F.log(F.lit(2.0))
    mu = b0 - F.lit(0.5772156649015329) * beta
    ret = mu - beta * F.log(-F.log(F.lit(1.0) - F.lit(1.0) / 30.0))
    return pwm.select(
        F.col("n").alias("n_days"),
        F.round(b0, 6).alias("b0"),
        F.round(beta, 6).alias("beta"),
        F.round(mu, 6).alias("mu"),
        F.round(ret, 6).alias("ret_level_30d"),
    )


@register(
    "theil_decomposition_by_source",
    """
    WITH d AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
      WHERE n_chars > 0
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx FROM d),
    -- per-row ln(x·n/Σx) floored to 1e9 fp BEFORE weighting/summing
    -- (the perplexity discipline): T_total = Σ x·lnfp / (Σx · 1e9)
    rows_fp AS (
      SELECT source, x,
        CAST(floor(ln(CAST(x AS DOUBLE) * n / sx) * 1000000000)
             AS BIGINT) AS lfp
      FROM d, tot
    ),
    g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS ng,
        CAST(sum(x) AS BIGINT) AS sg,
        CAST(sum(CAST(x AS HUGEINT) * lfp) AS HUGEINT) AS wsum
      FROM rows_fp GROUP BY source
    ),
    btw AS (
      SELECT CAST(sum(CAST(sg AS HUGEINT) *
        CAST(floor(ln((CAST(sg AS DOUBLE) / tot.sx)
                      / (CAST(ng AS DOUBLE) / tot.n)) * 1000000000)
             AS BIGINT)) AS HUGEINT) AS bsum
      FROM g, tot
    )
    SELECT
      (SELECT n FROM tot) AS n_docs,
      round(CAST(CAST((SELECT CAST(sum(wsum) AS HUGEINT) FROM g)
                 AS VARCHAR) AS DOUBLE)
            / ((SELECT sx FROM tot) * 1e9), 6) AS theil_total,
      round(CAST(CAST((SELECT bsum FROM btw) AS VARCHAR) AS DOUBLE)
            / ((SELECT sx FROM tot) * 1e9), 6) AS theil_between,
      round((CAST(CAST((SELECT CAST(sum(wsum) AS HUGEINT) FROM g)
                  AS VARCHAR) AS DOUBLE)
             - CAST(CAST((SELECT bsum FROM btw) AS VARCHAR) AS DOUBLE))
            / ((SELECT sx FROM tot) * 1e9), 6) AS theil_within
    """,
)
def q_theil_decomposition_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil-T inequality of document sizes, DECOMPOSED into between-
    source and within-source components — the additive-decomposition
    property Gini lacks (revenue_gini_concentration measures; Theil
    EXPLAINS: is the corpus's size skew a few giant sources, or
    giants inside every source?) — the diagnosis that decides between
    per-source caps (domain_cap_sample) and global length filters.

    Exactness: per-row ln(x/μ) is floored to 1e9 fixed point BEFORE
    the x-weighted sums (associative integer arithmetic — the
    perplexity/NB/Bartlett discipline); between-group terms floor the
    same way on exact group sums. T = weighted_fp/(Σx·1e9); within =
    total − between (exact in fp space before the single crossing).

    Scale shape: one scan with a per-row ln, one ≤|sources| group
    frame — nothing else."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    d = docs.select("source", F.col("n_chars").cast("bigint").alias("x"))
    tot = d.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"))
    dec = "decimal(38,0)"
    rows_fp = d.crossJoin(F.broadcast(tot)).select(
        "source",
        "x",
        "n",
        "sx",
        F.floor(
            F.log(
                F.col("x").cast("double") * F.col("n") / F.col("sx")
            )
            * F.lit(1000000000)
        )
        .cast("bigint")
        .alias("lfp"),
    )
    g = rows_fp.groupBy("source").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("x").alias("sg"),
        F.sum(F.col("x").cast(dec) * F.col("lfp")).alias("wsum"),
    )
    btw_term = F.col("sg").cast(dec) * F.floor(
        F.log(
            (F.col("sg").cast("double") / F.col("sx"))
            / (F.col("ng").cast("double") / F.col("n"))
        )
        * F.lit(1000000000)
    ).cast("bigint")
    agg = (
        g.crossJoin(F.broadcast(tot))
        .agg(
            F.sum("wsum").alias("tsum"),
            F.sum(btw_term).alias("bsum"),
            F.max("n").alias("n"),
            F.max("sx").alias("sx"),
        )
    )
    sd = lambda c: F.col(c).cast("string").cast("double")  # noqa: E731
    den = F.col("sx") * F.lit(1e9)
    return agg.select(
        F.col("n").alias("n_docs"),
        F.round(sd("tsum") / den, 6).alias("theil_total"),
        F.round(sd("bsum") / den, 6).alias("theil_between"),
        F.round((sd("tsum") - sd("bsum")) / den, 6).alias(
            "theil_within"
        ),
    )


@register(
    "yules_k_by_source",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    tf AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS m
      FROM tok GROUP BY source, w
    ),
    spec AS (
      SELECT source,
        CAST(sum(m) AS BIGINT) AS n,
        CAST(count(*) AS BIGINT) AS v,
        CAST(sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        CAST(sum(m * m) AS HUGEINT) AS sm2
      FROM tf GROUP BY source
    )
    SELECT source, n AS n_tokens, v AS vocab, v1 AS hapax,
      round(CAST(v1 AS DOUBLE) / v, 6) AS hapax_ratio,
      round(10000.0 * (CAST(CAST(sm2 AS VARCHAR) AS DOUBLE) - n)
            / (CAST(n AS DOUBLE) * n), 6) AS yules_k
    FROM spec
    """,
)
def q_yules_k_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K (repeat-rate) and hapax ratio per source — the
    LENGTH-INVARIANT vocabulary-richness constants completing the
    lexical family (heaps_law measures growth, zipf_slope the tail,
    lexical_density content share; K is the classic constant that
    stays put as the sample grows, so per-source K differences are
    real style/quality signal, not size artifacts). High K = heavy
    word repetition — a template/boilerplate source flag.

    Exactness: the frequency spectrum sums (N, V, V1, Σm²) are exact
    integers (HUGEINT for Σm² — a 1e9-token source with one dominant
    word squares past int64); K and the hapax ratio are one shared
    tree each, round-6.

    Scale shape: one token explode into a (source, word) hash agg —
    the only corpus stage; the spectrum aggregate is model-sized."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    dec = "decimal(38,0)"
    spec = tf.groupBy("source").agg(
        F.sum("m").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum(F.when(F.col("m") == 1, 1).otherwise(0)).alias("v1"),
        F.sum(F.col("m").cast(dec) * F.col("m")).alias("sm2"),
    )
    return spec.select(
        "source",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab"),
        F.col("v1").alias("hapax"),
        F.round(F.col("v1").cast("double") / F.col("v"), 6).alias(
            "hapax_ratio"
        ),
        F.round(
            10000.0
            * (F.col("sm2").cast("string").cast("double") - F.col("n"))
            / (F.col("n").cast("double") * F.col("n")),
            6,
        ).alias("yules_k"),
    )


def _ap_oracle() -> str:
    from ..operators.models import FROZEN_COEFS, FROZEN_INTERCEPT
    from ..operators.text import STOPWORDS
    from .analytics import _QUALITY_LABEL_THRESHOLD

    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    c_dtr, c_tts, c_nt, c_swr = (repr(c) for c in FROZEN_COEFS)
    z = (
        f"{FROZEN_INTERCEPT!r} + {c_dtr} * dtr + {c_tts} * tts"
        f" + {c_nt} * n_tok + {c_swr} * swr"
    )
    thr = _QUALITY_LABEL_THRESHOLD
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    f AS (SELECT doc_id, toks,
      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dtr,
      CAST(list_max(list_transform(list_distinct(toks),
        x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
        / len(toks) AS tts,
      CAST(len(toks) AS DOUBLE) AS n_tok,
      CAST(len(list_filter(toks,
        t -> t IN ({sw}))) AS DOUBLE) / len(toks) AS swr
    FROM t),
    sc AS (SELECT doc_id, round({z}, 6) AS s,
      CAST(CASE WHEN len(toks) < 2 THEN 0.0 ELSE
        1.0 - CAST(len(list_distinct(list_transform(
          generate_series(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i + 1]))) AS DOUBLE)
          / (len(toks) - 1) END > {thr} AS BIGINT) AS y
    FROM f),
    rk AS (
      SELECT y, row_number() OVER (ORDER BY s DESC, doc_id) AS rn
      FROM sc
    ),
    cp AS (
      SELECT rn, y,
        CAST(sum(y) OVER (ORDER BY rn) AS BIGINT) AS cum_pos
      FROM rk
    ),
    terms AS (
      -- precision@r floored to 1e9 fp BEFORE summation (associative)
      SELECT CAST(floor(CAST(cum_pos AS DOUBLE) / rn * 1000000000)
                  AS BIGINT) AS pfp
      FROM cp WHERE y = 1
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM rk) AS n_docs,
      (SELECT CAST(sum(y) AS BIGINT) FROM rk) AS n_pos,
      round(CAST((SELECT CAST(sum(pfp) AS BIGINT) FROM terms)
                 AS DOUBLE)
            / 1e9 / (SELECT sum(y) FROM rk), 6) AS avg_precision
    """


@register("average_precision_lowquality", _ap_oracle())
def q_average_precision_lowquality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Average precision (exact PR-AUC) of the frozen quality
    classifier against the Gopher dup-bigram weak label — the
    RANKING-quality number for IMBALANCED labels that ROC-AUC
    (classifier_auc_exact) flatters: with few positives, AP tracks
    precision where curation actually operates (the top of the
    ranking), completing the classifier-QA set (AUC, calibration,
    lift table, now AP).

    Exactness: tie-free ranking (round-6 logit desc, doc_id);
    precision@r = cum_pos/r is floored to 1e9 fixed point PER
    POSITIVE before the sum (associative integer total — the
    perplexity discipline), one final division by n_pos, round-6.

    Scale shape: scoring is a codegen projection; ranking reuses the
    global window over the corpus? No — the cumulative positives run
    over the RANKED frame; at 100 TB swap in the two-pass machinery
    exactly as lift_gains_deciles does (same rank key)."""
    from ..operators.models import frozen_logit_expr, quality_feature_frame
    from ..operators.ranking import global_row_number
    from .analytics import _QUALITY_LABEL_THRESHOLD

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_feature_frame(
        docs, label_threshold=_QUALITY_LABEL_THRESHOLD
    )
    sc = feats.select(
        "doc_id",
        (-F.round(frozen_logit_expr(), 6)).alias("neg_s"),
        F.col("weak_label").cast("bigint").alias("y"),
    )
    rk = global_row_number(sc, ["neg_s", "doc_id"]).select(
        "y", F.col("_global_rn").alias("rn")
    )
    from pyspark.sql.window import Window

    cp = rk.select(
        "rn",
        "y",
        F.sum("y")
        .over(
            Window.orderBy("rn").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("bigint")
        .alias("cum_pos"),
    )
    terms = cp.filter(F.col("y") == 1).select(
        F.floor(
            F.col("cum_pos").cast("double") / F.col("rn") * 1000000000
        )
        .cast("bigint")
        .alias("pfp")
    )
    tot = rk.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("y").alias("n_pos")
    )
    ap = terms.agg(F.sum("pfp").alias("sfp"))
    return tot.crossJoin(F.broadcast(ap)).select(
        "n_docs",
        "n_pos",
        F.round(
            F.col("sfp").cast("double") / 1e9 / F.col("n_pos"), 6
        ).alias("avg_precision"),
    )


_DIAM_HOPS = 4
_DIAM_SEEDS = 4


@register(
    "effective_diameter_copurchase",
    f"""
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1)
        IN ('0','1','2','3')
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT pa AS src, pb AS dst FROM e0
          UNION ALL SELECT pb, pa FROM e0),
    seeds AS (
      SELECT n AS seed FROM (SELECT DISTINCT src AS n FROM e)
      ORDER BY n LIMIT {_DIAM_SEEDS}
    ),
    walk(seed, node, hop) AS (
      SELECT seed, seed, 0 FROM seeds
      UNION
      SELECT w.seed, e.dst, w.hop + 1
      FROM walk w JOIN e ON e.src = w.node
      WHERE w.hop < {_DIAM_HOPS}
    ),
    dist AS (
      SELECT seed, node, CAST(MIN(hop) AS BIGINT) AS hop
      FROM walk GROUP BY seed, node
    ),
    h AS (
      SELECT hop, CAST(count(*) AS BIGINT) AS n_pairs
      FROM dist WHERE hop >= 1 GROUP BY hop
    ),
    c AS (
      SELECT hop, n_pairs,
        CAST(sum(n_pairs) OVER (ORDER BY hop) AS BIGINT) AS cum_pairs,
        (SELECT CAST(sum(n_pairs) AS BIGINT) FROM h) AS total
      FROM h
    )
    SELECT hop, n_pairs, cum_pairs,
      10 * cum_pairs >= 9 * total AS reaches_p90
    FROM c
    """,
)
def q_effective_diameter_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Effective-diameter hop histogram of the sampled co-purchase
    graph: min-hop distances from {_DIAM_SEEDS} deterministic seed
    parts (smallest ids), the per-hop reached-pair counts, and the
    p90 flag (smallest hop reaching ≥90% of reachable pairs — the
    'effective diameter' small-world statistic). Completes the graph
    family's GLOBAL-structure view (bfs_hops gives one blast radius;
    this calibrates how many expansion rounds recall/contamination
    sweeps actually need — if p90 = 2, a 6-round sweep is wasted
    work).

    Exactness: hops and pair counts are pure integers; p90 is the
    exact comparison 10·cum ≥ 9·total.

    Scale shape: one BFS per seed via operators/graphs.bfs_hops
    (frontier-only expansion, visited anti-join, per-round
    checkpoints); seed count is the parallel knob — at 100 TB seeds
    are a sample and the histogram is the estimator (ANF/HyperANF
    replaces exact sets with HLL sketches, same loop shape)."""
    e = copurchase_edges(spark, sf_dir).localCheckpoint()
    from ..operators.graphs import bfs_hops_tagged

    nodes = (
        e.select(F.col("pa").alias("n"))
        .unionByName(e.select(F.col("pb").alias("n")))
        .distinct()
    )
    seeds = [
        r["n"] for r in nodes.orderBy("n").limit(_DIAM_SEEDS).collect()
    ]
    # r11: one seed-tagged frontier loop for all seeds — identical
    # (seed, node, hop) set as per-seed bfs_hops runs (pytest-pinned),
    # at max_hops rounds of scheduling instead of seeds·max_hops
    dist = bfs_hops_tagged(e, seeds, max_hops=_DIAM_HOPS).filter(
        F.col("hop") >= 1
    )
    h = dist.groupBy("hop").agg(F.count(F.lit(1)).alias("n_pairs"))
    from pyspark.sql.window import Window

    tot = h.agg(F.sum("n_pairs").alias("total"))
    c = (
        h.crossJoin(F.broadcast(tot))
        .select(
            F.col("hop").cast("bigint").alias("hop"),
            "n_pairs",
            F.sum("n_pairs")
            .over(
                Window.orderBy("hop").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .cast("bigint")
            .alias("cum_pairs"),
            "total",
        )
    )
    return c.select(
        "hop",
        "n_pairs",
        "cum_pairs",
        (10 * F.col("cum_pairs") >= 9 * F.col("total")).alias(
            "reaches_p90"
        ),
    )


def _modularity_oracle() -> str:
    """Newman modularity of the LPA communities: reuses the registered
    LPA oracle verbatim as a subquery (same labels by construction),
    then assembles Q from exact integer edge/degree sums."""
    from .simjoin import _lpa_oracle

    lpa = _lpa_oracle()
    return f"""
    WITH lab AS (SELECT part, community FROM ({lpa})),
    li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1)
        IN ('0','1','2','3')
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
    inc AS (
      SELECT la.community AS c, CAST(count(*) AS BIGINT) AS in_c
      FROM e0
      JOIN lab la ON la.part = e0.pa
      JOIN lab lb ON lb.part = e0.pb AND lb.community = la.community
      GROUP BY la.community
    ),
    deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT pa AS n FROM e0 UNION ALL SELECT pb FROM e0
      ) GROUP BY n
    ),
    dc AS (
      SELECT lab.community AS c, CAST(sum(deg.d) AS BIGINT) AS deg_c
      FROM deg JOIN lab ON lab.part = deg.n
      GROUP BY lab.community
    ),
    num AS (
      SELECT CAST(count(*) AS BIGINT) AS n_comm,
        CAST(sum(4 * m.m * COALESCE(inc.in_c, 0)
                 - dc.deg_c * dc.deg_c) AS BIGINT) AS q_num
      FROM dc LEFT JOIN inc ON inc.c = dc.c CROSS JOIN m
    )
    SELECT num.n_comm, m.m AS n_edges, num.q_num,
      round(CAST(num.q_num AS DOUBLE) / (4.0 * m.m * m.m), 6)
        AS modularity
    FROM num, m
    """


@register("modularity_lpa_copurchase", _modularity_oracle())
def q_modularity_lpa_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newman modularity Q of the LPA communities on the co-purchase
    graph — the QUALITY number for the partition
    lpa_communities_copurchase emits (Q ≈ 0: labels no better than
    random wiring; Q ≳ 0.3: real community structure) — the
    acceptance gate before anyone acts on a community assignment.

    Exactness: Q·4m² = Σ_c (4m·in_c − deg_c²) is an exact BIGINT on
    intra-community edge counts and community degree sums (magnitudes
    ≤ (2m)², int64-safe for m < 1.5e9 edges — document and promote to
    decimal38 past that); ONE final division, round-6. The oracle
    embeds the registered LPA oracle as a subquery, so labels are
    identical by construction.

    Scale shape: LPA's per-round join/agg (4 rounds, checkpoint
    discipline) + two label equi-joins and ≤|communities| aggregates."""
    from ..operators.graphs import label_propagation
    from .simjoin import _LPA_ROUNDS

    e0 = copurchase_edges(spark, sf_dir).localCheckpoint()
    lab = label_propagation(e0, rounds=_LPA_ROUNDS).select(
        F.col("node").alias("part"), F.col("lab").alias("community")
    )
    m = e0.agg(F.count(F.lit(1)).alias("m"))
    la = lab.select(F.col("part").alias("pa"), F.col("community").alias("ca"))
    lb = lab.select(F.col("part").alias("pb"), F.col("community").alias("cb"))
    inc = (
        e0.join(la, "pa")
        .join(lb, "pb")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("in_c"))
    )
    deg = (
        e0.select(F.col("pa").alias("n"))
        .unionByName(e0.select(F.col("pb").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dc = (
        deg.join(lab.select(F.col("part").alias("n"), "community"), "n")
        .groupBy(F.col("community").alias("c"))
        .agg(F.sum("d").alias("deg_c"))
    )
    num = (
        dc.join(inc, "c", "left")
        .crossJoin(F.broadcast(m))
        .agg(
            F.count(F.lit(1)).alias("n_comm"),
            F.sum(
                4 * F.col("m") * F.coalesce(F.col("in_c"), F.lit(0))
                - F.col("deg_c") * F.col("deg_c")
            ).alias("q_num"),
        )
    )
    return num.crossJoin(F.broadcast(m)).select(
        "n_comm",
        F.col("m").alias("n_edges"),
        "q_num",
        F.round(
            F.col("q_num").cast("double")
            / (4.0 * F.col("m") * F.col("m")),
            6,
        ).alias("modularity"),
    )


@register(
    "attribute_assortativity_brand",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1)
        IN ('0','1','2','3')
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (
      SELECT ba.p_brand AS va, bb.p_brand AS vb
      FROM e0
      JOIN part ba ON ba.p_partkey = e0.pa
      JOIN part bb ON bb.p_partkey = e0.pb
    ),
    m AS (SELECT CAST(2 * count(*) AS BIGINT) AS m2 FROM e),
    diag AS (
      SELECT CAST(2 * sum(CASE WHEN va = vb THEN 1 ELSE 0 END)
             AS BIGINT) AS tr2
      FROM e
    ),
    marg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS c FROM (
        SELECT va AS v FROM e UNION ALL SELECT vb FROM e
      ) GROUP BY v
    ),
    sq AS (
      SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sab
      FROM marg
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM marg) AS n_brands,
      m.m2 // 2 AS n_edges,
      round((CAST(diag.tr2 AS DOUBLE) * m.m2
             - CAST(CAST(sq.sab AS VARCHAR) AS DOUBLE))
            / (CAST(m.m2 AS DOUBLE) * m.m2
               - CAST(CAST(sq.sab AS VARCHAR) AS DOUBLE)), 6)
        AS assortativity
    FROM m, diag, sq
    """,
)
def q_attribute_assortativity_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Categorical (brand) assortativity of the co-purchase graph —
    Newman's attribute mixing coefficient r = (tr(E) − Σa·b)/(1 − Σa·b)
    on the brand×brand edge mixing matrix: do customers co-purchase
    WITHIN a brand (r > 0, brand loyalty) or across (r < 0)? The
    attribute companion to degree_assortativity_copurchase and the
    number that decides whether negative sampling must be
    brand-stratified.

    Exactness: with the mixing matrix in EDGE-END counts, r =
    (2m·tr2 − Σc²)/((2m)² − Σc²) where tr2 = 2·same-brand edges and
    c = per-brand end counts — all exact integers (HUGEINT/decimal38
    for Σc²), one shared tree, round-6.

    Scale shape: two broadcast joins to attach brands (part is a
    dimension), one 2-cell and one ≤|brands| aggregate. No iteration."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    e0 = copurchase_edges(spark, sf_dir)
    e = (
        e0.join(
            F.broadcast(
                part.select(
                    F.col("p_partkey").alias("pa"),
                    F.col("p_brand").alias("va"),
                )
            ),
            "pa",
        )
        .join(
            F.broadcast(
                part.select(
                    F.col("p_partkey").alias("pb"),
                    F.col("p_brand").alias("vb"),
                )
            ),
            "pb",
        )
        .select("va", "vb")
    )
    m = e.agg((2 * F.count(F.lit(1))).alias("m2"))
    diag = e.agg(
        (2 * F.sum((F.col("va") == F.col("vb")).cast("bigint"))).alias(
            "tr2"
        )
    )
    marg = (
        e.select(F.col("va").alias("v"))
        .unionByName(e.select(F.col("vb").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dec = "decimal(38,0)"
    sq = marg.agg(
        F.sum(F.col("c").cast(dec) * F.col("c")).alias("sab")
    )
    nb = marg.agg(F.count(F.lit(1)).alias("n_brands"))
    sab = F.col("sab").cast("string").cast("double")
    return (
        m.crossJoin(F.broadcast(diag))
        .crossJoin(F.broadcast(sq))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_brands",
            F.expr("m2 div 2").alias("n_edges"),
            F.round(
                (F.col("tr2").cast("double") * F.col("m2") - sab)
                / (F.col("m2").cast("double") * F.col("m2") - sab),
                6,
            ).alias("assortativity"),
        )
    )


_RMST_TAU = 30


def _rmst_oracle() -> str:
    """RMST = the exact integral of the registered KM step curve up to
    τ: the KM oracle (30 unrolled MATERIALIZED product steps) runs
    verbatim as a subquery, so the curve is identical by
    construction."""
    from .analytics import _km_oracle

    km = _km_oracle(30)
    return f"""
    WITH curve AS (SELECT * FROM ({km})),
    seg AS (
      SELECT g, dur, surv_fp,
        lead(dur, 1, {_RMST_TAU}) OVER (PARTITION BY g ORDER BY dur)
          AS nxt,
        row_number() OVER (PARTITION BY g ORDER BY dur) AS rn
      FROM curve
    ),
    pieces AS (
      SELECT g,
        CAST(sum(CASE WHEN rn = 1 THEN dur * 1000000000000 ELSE 0 END)
          AS BIGINT) AS head_fp,
        CAST(sum(surv_fp * (least(nxt, {_RMST_TAU})
                            - least(dur, {_RMST_TAU}))) AS BIGINT)
          AS tail_fp
      FROM seg GROUP BY g
    )
    SELECT g, head_fp + tail_fp AS rmst_fp,
      round(CAST(head_fp + tail_fp AS DOUBLE) / 1e12, 6) AS rmst_days
    FROM pieces
    """


@register("rmst_conversion", _rmst_oracle())
def q_rmst_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (τ=30 days) per cohort from the
    Kaplan-Meier conversion curve — THE estimand that summarizes a
    whole survival curve in one comparable number ('average days
    un-converted within the window'), robust where median survival is
    undefined (curves that never cross 0.5) — completing the survival
    family: log-rank TESTS, Nelson-Aalen/KM ESTIMATE, RMST COMPARES.

    Exactness: the step-function integral is an EXACT integer in
    1e12 fixed point — full survival (1e12) over [0, t₁) plus
    Σ surv_fp·Δt over the curve steps clipped at τ; the curve itself
    is the registered KM fixed-point chain, and the oracle wraps the
    registered KM oracle as a subquery, so curve equality transfers.

    Scale shape: the KM plan (corpus agg + broadcast at-risk join +
    ≤60-row driver chain) plus one lead window over the ≤60-row
    curve."""
    from pyspark.sql.window import Window

    from .analytics import q_kaplan_meier_conversion_curve

    curve = q_kaplan_meier_conversion_curve(spark, sf_dir)
    wg = Window.partitionBy("g").orderBy("dur")
    seg = curve.select(
        "g",
        "dur",
        "surv_fp",
        F.lead("dur", 1, _RMST_TAU).over(wg).alias("nxt"),
        F.row_number().over(wg).alias("rn"),
    )
    pieces = seg.groupBy("g").agg(
        F.sum(
            F.when(
                F.col("rn") == 1,
                F.col("dur") * F.lit(1_000_000_000_000),
            ).otherwise(0)
        ).alias("head_fp"),
        F.sum(
            F.col("surv_fp")
            * (
                F.least(F.col("nxt"), F.lit(_RMST_TAU))
                - F.least(F.col("dur"), F.lit(_RMST_TAU))
            )
        ).alias("tail_fp"),
    )
    return pieces.select(
        "g",
        (F.col("head_fp") + F.col("tail_fp"))
        .cast("bigint")
        .alias("rmst_fp"),
        F.round(
            (F.col("head_fp") + F.col("tail_fp")).cast("double")
            / F.lit(1e12),
            6,
        ).alias("rmst_days"),
    )
