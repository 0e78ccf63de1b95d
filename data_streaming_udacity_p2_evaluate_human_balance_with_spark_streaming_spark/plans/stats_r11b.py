"""Round-11 second wave: seeded centrality, collaborative
filtering, robust dispersion testing, deterministic bootstrap,
stylometry, and the Misra-Gries frequency summary.

Like every plans module, each @register pairs the Spark plan with a
DuckDB oracle; exact-arithmetic disciplines (doubled ranks, fixed-point
floors, HUGEINT/decimal(38,0) crossings) per NOTES.md.

No counterpart exists in the reference (three linear streaming
scripts — SURVEY.md §2); north-star analytics extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.sketches import hex_prefix_int
from ..sources.files import load_table
from .copurchase import copurchase_edges
from .queries import register

# --------------------------------------------------------------------------
# Shared sampled co-purchase graph (the anf/effective-diameter slice):
# parts whose md5 first hex char is 0-3 (4/16), edges = parts sharing an
# order. No sketch in this module hashes l_partkey again, so the
# correlated-hash trap (NOTES r11) does not apply.
# --------------------------------------------------------------------------

_COPURCHASE_CTE = """
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
    e AS (SELECT pa AS src, pb AS dst FROM e0
          UNION ALL SELECT pb, pa FROM e0)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pa < pb) distinct co-purchase edges over the 4/16 part slice —
    the graph family's shared fixture (anf_hop_histogram,
    effective_diameter_copurchase)."""
    return copurchase_edges(spark, sf_dir).localCheckpoint()



_HC_SEEDS = 8
_HC_HOPS = 4


@register(
    "harmonic_centrality_seeds",
    f"""
    WITH RECURSIVE {_COPURCHASE_CTE},
    nodes AS (SELECT DISTINCT src AS node FROM e),
    seeds AS (
      SELECT node AS seed FROM nodes ORDER BY node LIMIT {_HC_SEEDS}
    ),
    walk(seed, node, hop) AS (
      SELECT seed, seed, 0 FROM seeds
      UNION
      SELECT w.seed, e.dst, w.hop + 1
      FROM walk w JOIN e ON e.src = w.node
      WHERE w.hop < {_HC_HOPS}
    ),
    dist AS (
      SELECT seed, node, CAST(MIN(hop) AS BIGINT) AS hop
      FROM walk GROUP BY seed, node
    )
    SELECT seed,
      CAST(sum(CASE WHEN hop >= 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_reached,
      CAST(sum(CASE WHEN hop >= 1 THEN 1000000000 // hop ELSE 0 END)
           AS BIGINT) AS harm_fp,
      round(CAST(sum(CASE WHEN hop >= 1 THEN 1000000000 // hop
                     ELSE 0 END) AS DOUBLE) / 1000000000.0, 4)
        AS harmonic
    FROM dist GROUP BY seed
    """,
)
def q_harmonic_centrality_seeds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Truncated HARMONIC CENTRALITY for 8 seed parts of the sampled
    co-purchase graph: H(s) = Σ_{v ≠ s, d(s,v) ≤ 4} 1/d(s,v) — the
    distance-based centrality the spectral family (PageRank/HITS)
    doesn't give, well-defined on disconnected graphs (unreachable
    nodes contribute 0, the reason harmonic beats closeness at scale;
    Boldi & Vigna, "Axioms for Centrality"). Seeds are the 8 smallest
    node ids; all 8 run in ONE tagged frontier loop
    (operators/graphs.bfs_hops_tagged — 4 rounds, not 32).

    Exactness: hop distances are exact integers from BFS, and 1/d for
    d ∈ [1,4] is the exact integer 1e9 div d — the whole statistic is
    integer arithmetic end to end, no libm anywhere.

    Scale shape: k tagged BFS frontiers share max_hops rounds of
    (frontier ⋈ edges) + anti-join; per-seed aggregation is a 5-group
    hash agg. The sampled-seed form is how centrality is actually
    estimated on 100 TB graphs (exact all-pairs is Θ(|V|·|E|)); the
    oracle replays the walk with a recursive CTE."""
    from ..operators.graphs import bfs_hops_tagged

    e0 = _copurchase_edges(spark, sf_dir)
    nodes = (
        e0.select(F.col("pa").alias("n"))
        .unionByName(e0.select(F.col("pb").alias("n")))
        .distinct()
    )
    seeds = [
        r["n"] for r in nodes.orderBy("n").limit(_HC_SEEDS).collect()
    ]
    dist = bfs_hops_tagged(e0, seeds, max_hops=_HC_HOPS)
    return dist.groupBy("seed").agg(
        F.sum(F.when(F.col("hop") >= 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_reached"),
        F.sum(
            F.when(
                F.col("hop") >= 1,
                F.expr("1000000000 DIV hop"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("harm_fp"),
        F.round(
            F.sum(
                F.when(
                    F.col("hop") >= 1, F.expr("1000000000 DIV hop")
                ).otherwise(F.lit(0))
            ).cast("double")
            / 1_000_000_000.0,
            4,
        ).alias("harmonic"),
    )


_II_CAP = 25  # heavy-basket guard: pairs per customer ≤ cap²
_II_MINCO = 2
_II_TOPK = 100


@register(
    "item_item_cosine_parts",
    f"""
    WITH b0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    sz AS (
      SELECT c, CAST(count(*) AS BIGINT) AS n FROM b0 GROUP BY 1
    ),
    b AS (
      SELECT b0.c, b0.p FROM b0 JOIN sz ON sz.c = b0.c
      WHERE sz.n BETWEEN 2 AND {_II_CAP}
    ),
    np AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM b GROUP BY 1),
    co AS (
      SELECT x.p AS p, y.p AS q, CAST(count(*) AS BIGINT) AS co_cnt
      FROM b x JOIN b y ON x.c = y.c AND x.p < y.p
      GROUP BY 1, 2
      HAVING count(*) >= {_II_MINCO}
    ),
    scored AS (
      SELECT co.p, co.q, co.co_cnt, a.n_p, z.n_p AS n_q,
        round(CAST(co.co_cnt AS DOUBLE)
              / sqrt(CAST(a.n_p * z.n_p AS DOUBLE)), 6) AS cosine
      FROM co JOIN np a ON a.p = co.p JOIN np z ON z.p = co.q
    ),
    rk AS (
      SELECT *, row_number() OVER (ORDER BY cosine DESC, p, q) AS rk
      FROM scored
    )
    SELECT p, q, co_cnt, n_p, n_q, cosine, CAST(rk AS BIGINT) AS rk
    FROM rk WHERE rk <= {_II_TOPK}
    """,
)
def q_item_item_cosine_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Item-item COLLABORATIVE FILTERING over (customer, part)
    baskets: cosine similarity co(p,q)/√(n_p·n_q) between parts'
    binary customer vectors, top-100 pairs — the co-occurrence
    recommender the registry's graph family (ppr_recommend_parts)
    approaches spectrally but never answers set-theoretically.

    Scale guards, in order: baskets of one customer above {_II_CAP}
    parts are DROPPED before pairing (the heavy-basket cap every
    production item-sim job applies — a power buyer with 10k parts
    would alone emit 50M pairs; DIMSUM-style sampling is the
    alternative the docstring of dedup's sparse-cosine join covers),
    and pairs below support {_II_MINCO} never leave the co-count
    hash aggregate. Pair volume is Σ_c n_c² ≤ cap·|b| — 897k rows at
    sf0.1 vs 26.9M uncapped (measured).

    Exactness: co_cnt, n_p, n_q are exact BIGINTs; cosine is ONE
    shared IEEE tree (÷, √) on those integers, round-6 BEFORE the
    rank cut, (p, q) tie-break — the rounded-score-cut discipline."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    b0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    sz = b0.groupBy("c").agg(F.count(F.lit(1)).alias("n"))
    b = (
        b0.join(sz, "c")
        .filter((F.col("n") >= 2) & (F.col("n") <= _II_CAP))
        .select("c", "p")
        .localCheckpoint()
    )
    np_ = b.groupBy("p").agg(F.count(F.lit(1)).alias("n_p"))
    co = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.c") == F.col("y.c")) & (F.col("x.p") < F.col("y.p")),
        )
        .groupBy(F.col("x.p").alias("p"), F.col("y.p").alias("q"))
        .agg(F.count(F.lit(1)).alias("co_cnt"))
        .filter(F.col("co_cnt") >= _II_MINCO)
    )
    scored = (
        co.join(np_.withColumnRenamed("p", "pp"), F.col("p") == F.col("pp"))
        .drop("pp")
        .join(
            np_.select(
                F.col("p").alias("qq"), F.col("n_p").alias("n_q")
            ),
            F.col("q") == F.col("qq"),
        )
        .drop("qq")
        .withColumn(
            "cosine",
            F.round(
                F.col("co_cnt").cast("double")
                / F.sqrt((F.col("n_p") * F.col("n_q")).cast("double")),
                6,
            ),
        )
    )
    # r13: explicit top-K via orderBy().limit() — plan-NEUTRAL on
    # Spark 4 (InferWindowGroupLimit already planted a
    # TakeOrderedAndProject under the old row_number+filter form;
    # OPTIMIZATION_r13.md §6 "Top-k rank windows") — kept so the
    # heap cut is explicit, not optimizer-dependent. Bit-identical:
    # cosine is rounded BEFORE the cut and (p, q) is a unique total
    # tie-break.
    top = scored.orderBy(F.desc("cosine"), F.asc("p"), F.asc("q")).limit(
        _II_TOPK
    )
    return (
        top.withColumn(
            "rk",
            F.row_number()
            .over(
                Window.orderBy(F.desc("cosine"), F.asc("p"), F.asc("q"))
            )
            .cast("bigint"),
        )
        .select("p", "q", "co_cnt", "n_p", "n_q", "cosine", "rk")
    )


_MG_K = 32
_MG_BUCKETS = 8


@register(
    "misra_gries_heavy_hitters",
    f"""
    WITH it AS (
      SELECT CASE WHEN user_id % 10 < 3
        THEN 'hot:' || CAST(user_id % 3 AS VARCHAR)
        ELSE 'u:' || CAST(user_id AS VARCHAR) END AS item
      FROM events
    ),
    counts AS (
      SELECT {hex_prefix_int('md5(item)', 2)} % {_MG_BUCKETS} AS bucket, item,
        CAST(count(*) AS BIGINT) AS cnt
      FROM it GROUP BY 1, 2
    ),
    s1r AS (
      SELECT bucket, item, cnt,
        row_number() OVER (PARTITION BY bucket
                           ORDER BY cnt DESC, item) AS rk
      FROM counts
    ),
    s1d AS (
      SELECT bucket,
        coalesce(max(CASE WHEN rk = {_MG_K} + 1 THEN cnt END), 0)
          AS delta_b
      FROM s1r GROUP BY 1
    ),
    s1 AS (
      SELECT r.item, r.cnt - d.delta_b AS cnt, d.delta_b
      FROM s1r r JOIN s1d d ON d.bucket = r.bucket
      WHERE r.cnt - d.delta_b > 0
    ),
    s2r AS (
      SELECT item, cnt, delta_b,
        row_number() OVER (ORDER BY cnt DESC, item) AS rk
      FROM s1
    ),
    s2d AS (
      SELECT coalesce(max(CASE WHEN rk = {_MG_K} + 1 THEN cnt END), 0)
        AS delta_m
      FROM s2r
    ),
    mg AS (
      SELECT r.item, CAST(r.cnt - d.delta_m AS BIGINT) AS mg_cnt,
        CAST(r.delta_b + d.delta_m AS BIGINT) AS delta_total
      FROM s2r r CROSS JOIN s2d d
      WHERE r.cnt - d.delta_m > 0
    ),
    exact AS (
      SELECT item, CAST(count(*) AS BIGINT) AS exact_cnt
      FROM it GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total_n FROM it)
    SELECT m.item, m.mg_cnt, m.delta_total, e.exact_cnt, n.total_n,
      e.exact_cnt * ({_MG_K} + 1) > n.total_n AS guaranteed_heavy,
      (e.exact_cnt - m.mg_cnt) * ({_MG_K} + 1) <= n.total_n
        AS under_bound_ok
    FROM mg m JOIN exact e ON e.item = m.item CROSS JOIN n
    """,
)
def q_misra_gries_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MISRA-GRIES frequency summary over a skew-recoded event stream
    (users with id%10 < 3 collapse into 3 'hot:*' cohorts at ~10% of N
    each; the other ~105 naturals sit at ~0.7% — so the 32-counter
    summary genuinely truncates and the hot items are guaranteed
    survivors). The deterministic MERGEABLE counterpart of
    heavy_hitters_cms: CMS is a probabilistic overestimating grid, MG
    is k exact-arithmetic counters that UNDERestimate by exactly the
    truncation mass — `operators/sketches.misra_gries` builds
    per-md5-bucket error-0 summaries and merges them by the
    subtract-(k+1)-th-largest rule (Agarwal et al., PODS 2012).

    Because buckets are md5-deterministic and truncation is
    value-based (never row-order-based), the whole summary is exactly
    reproducible — so unlike every textbook treatment this one is
    FULLY ORACLED: DuckDB replays both truncations and matches mg_cnt
    to the integer. For survivors exact_cnt − mg_cnt == delta_total
    identically (subtractions are exact); guaranteed_heavy marks items
    above the survival bound N/(k+1) (the 3 hot cohorts),
    under_bound_ok pins the theorem-level undercount ceiling.

    Scale shape: one hash agg keyed (bucket, item) with map-side
    combine, a per-bucket window, then one window over ≤ 8·32 rows."""
    from ..operators.sketches import misra_gries

    it = load_table(spark, sf_dir, "events").select(
        F.expr(
            "CASE WHEN user_id % 10 < 3"
            " THEN 'hot:' || CAST(user_id % 3 AS STRING)"
            " ELSE 'u:' || CAST(user_id AS STRING) END"
        ).alias("item")
    )
    mg = misra_gries(it, "item", k=_MG_K, n_buckets=_MG_BUCKETS)
    exact = it.groupBy("item").agg(F.count(F.lit(1)).alias("exact_cnt"))
    n = it.agg(F.count(F.lit(1)).alias("total_n"))
    return (
        mg.join(exact, "item")
        .crossJoin(F.broadcast(n))
        .select(
            "item",
            "mg_cnt",
            "delta_total",
            "exact_cnt",
            "total_n",
            (
                F.col("exact_cnt") * (_MG_K + 1)
                > F.col("total_n")
            ).alias("guaranteed_heavy"),
            (
                (F.col("exact_cnt") - F.col("mg_cnt")) * (_MG_K + 1)
                <= F.col("total_n")
            ).alias("under_bound_ok"),
        )
    )

_BOOT_B = 200


@register(
    "bootstrap_mean_ci_daily",
    f"""
    WITH days AS (
      SELECT epoch_ns(ts) // 1000 // 86400000000 AS g,
        CAST(count(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    rn AS (
      SELECT g, v, CAST(row_number() OVER (ORDER BY g) AS BIGINT) AS rn
      FROM days
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM days),
    grid AS (
      SELECT b.b, r.rn AS i,
        md5(CAST(b.b AS VARCHAR) || ':' || CAST(r.rn AS VARCHAR)) AS h
      FROM (SELECT unnest(generate_series(1, {_BOOT_B})) AS b) b
      CROSS JOIN rn r
    ),
    draw AS (
      SELECT g.b,
        ({hex_prefix_int('g.h', 12)} % n.n) + 1 AS j
      FROM grid g CROSS JOIN n
    ),
    boot AS (
      SELECT d.b, CAST(sum(r.v) AS BIGINT) AS t
      FROM draw d JOIN rn r ON r.rn = d.j
      GROUP BY d.b
    ),
    br AS (
      SELECT b, t, row_number() OVER (ORDER BY t, b) AS rk FROM boot
    ),
    obs AS (
      SELECT CAST(sum(v) AS BIGINT) AS obs_total,
        CAST(count(*) AS BIGINT) AS n_days
      FROM days
    )
    SELECT o.n_days, CAST({_BOOT_B} AS BIGINT) AS n_boot,
      o.obs_total,
      round(CAST(o.obs_total AS DOUBLE) / o.n_days, 4) AS obs_mean,
      lo.t AS lo_total, hi.t AS hi_total,
      round(CAST(lo.t AS DOUBLE) / o.n_days, 4) AS lo_mean,
      round(CAST(hi.t AS DOUBLE) / o.n_days, 4) AS hi_mean
    FROM obs o
    JOIN br lo ON lo.rk = {int(_BOOT_B * 0.025) + 1}
    JOIN br hi ON hi.rk = {int(_BOOT_B * 0.975)}
    """,
)
def q_bootstrap_mean_ci_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DETERMINISTIC BOOTSTRAP percentile CI for the mean daily event
    volume: B=200 resamples of the n=30 daily totals, where resample
    b's i-th draw is day index md5(b:i) mod n — hash-derived uniforms
    make the classic Efron bootstrap exactly reproducible across
    engines, runs, and cluster sizes (the property that lets a 100 TB
    pipeline audit its own uncertainty numbers). Emits the observed
    mean and the [2.5%, 97.5%] percentile bounds.

    Exactness: every draw index is exact integer arithmetic on the
    md5 48-bit prefix (Spark conv(), DuckDB per-nibble shifts); each
    resample total is an exact BIGINT sum; the CI picks ranks 6 and
    195 of the sorted totals by row_number (t, b tie-break) — no
    floats anywhere until the final round-4 display divisions.

    Scale shape: the B×n assignment grid is a broadcast crossJoin of
    a B-row literal spine against the n-row daily aggregate (6000
    rows), joined back to the days by index — resampling without
    replicating the underlying events even once."""
    ev = load_table(spark, sf_dir, "events")
    # NOTE: deliberately NOT pinned — a localCheckpoint of this 30-row
    # frame costs more (materialization job) than the two extra lazy
    # events scans it would save (measured 1.2 -> 1.8 s at sf0.1)
    days = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("g")
    ).agg(F.count(F.lit(1)).alias("v"))
    rn = days.withColumn(
        "rn", F.row_number().over(Window.orderBy("g")).cast("bigint")
    )
    n = days.agg(F.count(F.lit(1)).alias("n"))
    spine = spark.range(1, _BOOT_B + 1).select(F.col("id").alias("b"))
    grid = rn.select(F.col("rn").alias("i")).crossJoin(
        F.broadcast(spine)
    )
    draw = grid.crossJoin(F.broadcast(n)).select(
        "b",
        (
            F.expr(
                "CAST(conv(substring(md5(CAST(b AS STRING) || ':' ||"
                " CAST(i AS STRING)), 1, 12), 16, 10) AS BIGINT)"
            )
            % F.col("n")
            + 1
        ).alias("j"),
    )
    boot = (
        draw.join(rn.select("rn", "v"), draw["j"] == F.col("rn"))
        .groupBy("b")
        .agg(F.sum("v").alias("t"))
    )
    br = boot.withColumn(
        "rk", F.row_number().over(Window.orderBy("t", "b"))
    )
    obs = days.agg(
        F.sum("v").alias("obs_total"),
        F.count(F.lit(1)).alias("n_days"),
    )
    lo = br.filter(F.col("rk") == int(_BOOT_B * 0.025) + 1).select(
        F.col("t").alias("lo_total")
    )
    hi = br.filter(F.col("rk") == int(_BOOT_B * 0.975)).select(
        F.col("t").alias("hi_total")
    )
    return (
        obs.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_days",
            F.lit(_BOOT_B).cast("bigint").alias("n_boot"),
            "obs_total",
            F.round(
                F.col("obs_total").cast("double") / F.col("n_days"), 4
            ).alias("obs_mean"),
            "lo_total",
            "hi_total",
            F.round(
                F.col("lo_total").cast("double") / F.col("n_days"), 4
            ).alias("lo_mean"),
            F.round(
                F.col("hi_total").cast("double") / F.col("n_days"), 4
            ).alias("hi_mean"),
        )
    )

_BD_TOPW = 20


@register(
    "burrows_delta_sources",
    f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w
      FROM documents WHERE length(text) > 0
    ),
    tok2 AS (SELECT source, w FROM tok WHERE w <> ''),
    tots AS (
      SELECT source, CAST(count(*) AS BIGINT) AS tot FROM tok2
      GROUP BY 1
    ),
    wc AS (
      SELECT source, w, CAST(count(*) AS BIGINT) AS cnt FROM tok2
      GROUP BY 1, 2
    ),
    topw AS (
      SELECT w FROM (
        SELECT w, row_number() OVER
          (ORDER BY sum(cnt) DESC, w) AS rk
        FROM wc GROUP BY w
      ) WHERE rk <= {_BD_TOPW}
    ),
    grid AS (
      SELECT t.source, t.tot, topw.w,
        coalesce(wc.cnt, 0) AS cnt
      FROM tots t CROSS JOIN topw
      LEFT JOIN wc ON wc.source = t.source AND wc.w = topw.w
    ),
    ff AS (
      SELECT source, w, (cnt * 1000000) // tot AS f_fp FROM grid
    ),
    ws AS (
      SELECT w, CAST(count(*) AS BIGINT) AS ns,
        CAST(sum(f_fp) AS BIGINT) AS sumf
      FROM ff GROUP BY 1
    ),
    u AS (
      SELECT f.source, f.w, ws.ns,
        ws.ns * f.f_fp - ws.sumf AS u
      FROM ff f JOIN ws ON ws.w = f.w
    ),
    su AS (
      SELECT w, CAST(sum(u * u) AS BIGINT) AS su2 FROM u GROUP BY 1
    ),
    z AS (
      SELECT u.source, u.w,
        CAST(floor(1000000.0 * u.u * sqrt(CAST(u.ns AS DOUBLE))
                   / sqrt(CAST(su.su2 AS DOUBLE))) AS BIGINT) AS z_fp
      FROM u JOIN su ON su.w = u.w WHERE su.su2 > 0
    )
    SELECT a.source AS sa, b.source AS sb,
      CAST(count(*) AS BIGINT) AS m_words,
      CAST(sum(abs(a.z_fp - b.z_fp)) AS BIGINT) AS delta_fp,
      round(CAST(sum(abs(a.z_fp - b.z_fp)) AS DOUBLE)
            / (count(*) * 1000000.0), 6) AS delta
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def q_burrows_delta_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BURROWS' DELTA stylometric distance between document sources:
    z-score each source's relative frequency of the corpus's top-20
    words (across the 20 sources), then Delta(a,b) = mean |z_a − z_b|
    — the standard authorship-attribution measure (Burrows 2002;
    Evert et al. 2017 formalization), and the classic "same pipeline,
    different provenance?" drift check a 100 TB curation stack runs
    across its ingest feeds. Emits all source pairs.

    Exactness: token counts and per-source totals are exact BIGINTs;
    relative frequencies floor to 1e6 fixed point by integer division;
    centering is division-free (u = n·f − Σf, the house identity);
    Σu² is an exact BIGINT (|u| ≤ 2·n·1e6 ⇒ u² ≤ ~2e15 at n=20
    sources); the z-score is ONE shared IEEE tree per (source, word)
    floored to 1e6 BEFORE the cross-word sum, so Delta numerators are
    associative integers. Constant words (su2 = 0) drop in both
    engines; the top-20 cut ranks on exact counts with word
    tie-break.

    Scale shape: one tokenize scan → (source, word) hash agg; the
    top-word cut is a bounded-vocabulary window; everything after
    runs on a sources×20 grid (400 rows)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    # ONE tokenize scan: (source, word) counts are the bounded frame
    # (sources x vocab) every later step derives from
    wc = (
        tok.groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    tots = wc.groupBy("source").agg(F.sum("cnt").alias("tot"))
    topw = (
        wc.groupBy("w")
        .agg(F.sum("cnt").alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w"))),
        )
        .filter(F.col("rk") <= _BD_TOPW)
        .select("w")
    )
    grid = (
        tots.crossJoin(F.broadcast(topw))
        .join(wc, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr("(coalesce(cnt, 0) * 1000000) DIV tot").alias("f_fp"),
        )
    )
    ws = grid.groupBy("w").agg(
        F.count(F.lit(1)).alias("ns"), F.sum("f_fp").alias("sumf")
    )
    u = grid.join(ws, "w").select(
        "source",
        "w",
        "ns",
        F.expr("ns * f_fp - sumf").alias("u"),
    )
    su = u.groupBy("w").agg(F.sum(F.col("u") * F.col("u")).alias("su2"))
    z = (
        u.join(su, "w")
        .filter(F.col("su2") > 0)
        .select(
            "source",
            "w",
            F.expr(
                "CAST(floor(1000000.0 * u * sqrt(CAST(ns AS DOUBLE))"
                " / sqrt(CAST(su2 AS DOUBLE))) AS BIGINT)"
            ).alias("z_fp"),
        )
    )
    return (
        z.alias("a")
        .join(
            z.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(
            F.count(F.lit(1)).alias("m_words"),
            F.sum(F.abs(F.col("a.z_fp") - F.col("b.z_fp"))).alias(
                "delta_fp"
            ),
            F.round(
                F.sum(F.abs(F.col("a.z_fp") - F.col("b.z_fp"))).cast(
                    "double"
                )
                / (F.count(F.lit(1)) * 1_000_000.0),
                6,
            ).alias("delta"),
        )
    )

@register(
    "wilcoxon_signed_rank_daily",
    """
    WITH days AS (
      SELECT epoch_ns(ts) // 1000 // 86400000000 AS g,
        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT) AS clicks,
        CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             AS BIGINT) AS views
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT g, clicks - views AS d, abs(clicks - views) AS ad
      FROM days WHERE clicks <> views
    ),
    tv AS (SELECT ad, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1),
    cum AS (
      SELECT ad, t, sum(t) OVER (ORDER BY ad) AS c FROM tv
    ),
    dr AS (
      -- doubled average rank of the tie group: min_rank + max_rank
      SELECT d.g, d.d, 2 * cum.c - cum.t + 1 AS dr2
      FROM d JOIN cum ON cum.ad = d.ad
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        CAST(sum(CASE WHEN d > 0 THEN dr2 ELSE 0 END) AS BIGINT)
          AS w2_pos
      FROM dr
    ),
    ties AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_term FROM tv
    )
    SELECT a.n, a.n_pos, a.n - a.n_pos AS n_neg, a.w2_pos, t.tie_term,
      round(CAST(2 * a.w2_pos - a.n * (a.n + 1) AS DOUBLE)
            / (2.0 * sqrt((2.0 * a.n * (a.n + 1) * (2 * a.n + 1)
                           - t.tie_term) / 12.0)), 6) AS z
    FROM agg a CROSS JOIN ties t
    """,
)
def q_wilcoxon_signed_rank_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WILCOXON SIGNED-RANK test on the paired daily (clicks, views)
    volumes: ranks |d| over the nonzero differences, W+ = rank sum of
    the positive days, normal approximation with the tie-corrected
    variance — the nonparametric PAIRED location test the battery was
    missing (paired_sign_test_improvement throws away magnitudes;
    mann_whitney-style tests are unpaired; this is the matched-pairs
    workhorse between them).

    Exactness: daily counts and differences are exact integers; ranks
    use the DOUBLED-average-rank identity (dr2 = min_rank + max_rank
    = 2·cum − t + 1 from a running sum over distinct |d|), so W2 =
    2·W+ and the tie term Σ(t³−t) stay exact BIGINTs; z is ONE shared
    IEEE tree on those integers, round-6 — with 4·Var(W+) =
    (2n(n+1)(2n+1) − Σ(t³−t))/12 absorbing the doubling.

    Scale shape: one events scan → one 30-row daily pivot; ranks via
    a running sum over distinct |d| (two-pass, no per-row window)."""
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.groupBy(
            F.expr("unix_micros(ts) div 86400000000").alias("g")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("clicks"),
            F.sum(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("views"),
        )
        .localCheckpoint()
    )
    d = days.filter(F.col("clicks") != F.col("views")).select(
        "g",
        (F.col("clicks") - F.col("views")).alias("d"),
        F.abs(F.col("clicks") - F.col("views")).alias("ad"),
    )
    tv = d.groupBy("ad").agg(F.count(F.lit(1)).alias("t"))
    cum = tv.withColumn(
        "c",
        F.sum("t").over(
            Window.orderBy("ad").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    dr = d.join(cum, "ad").select(
        "g", "d", F.expr("2 * c - t + 1").alias("dr2")
    )
    agg = dr.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("d") > 0, F.col("dr2")).otherwise(0))
        .cast("bigint")
        .alias("w2_pos"),
    )
    ties = tv.agg(
        F.sum(F.expr("t * t * t - t")).cast("bigint").alias("tie_term")
    )
    return agg.crossJoin(F.broadcast(ties)).select(
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        "w2_pos",
        "tie_term",
        F.round(
            (2 * F.col("w2_pos") - F.col("n") * (F.col("n") + 1)).cast(
                "double"
            )
            / (
                2.0
                * F.sqrt(
                    (
                        2.0
                        * F.col("n")
                        * (F.col("n") + 1)
                        * (2 * F.col("n") + 1)
                        - F.col("tie_term")
                    )
                    / 12.0
                )
            ),
            6,
        ).alias("z"),
    )

@register(
    "psi_value_drift",
    """
    WITH e AS (
      SELECT epoch_ns(ts) // 1000 // 86400000000 AS g,
        CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ),
    lo AS (SELECT min(g) AS mn FROM e),
    ref AS (SELECT c FROM e, lo WHERE g < mn + 15),
    cur AS (SELECT c FROM e, lo WHERE g >= mn + 15),
    rn AS (SELECT CAST(count(*) AS BIGINT) AS n_ref FROM ref),
    cn AS (SELECT CAST(count(*) AS BIGINT) AS n_cur FROM cur),
    rv AS (SELECT c, CAST(count(*) AS BIGINT) AS t FROM ref GROUP BY 1),
    rcum AS (SELECT c, sum(t) OVER (ORDER BY c) AS cum FROM rv),
    edges AS (
      SELECT q, min(c) AS edge
      FROM rcum CROSS JOIN (
        SELECT unnest(generate_series(1, 9)) AS q
      ) qs, rn
      WHERE cum >= (q * n_ref + 9) // 10
      GROUP BY q
    ),
    rb AS (
      SELECT v.bin, CAST(sum(v.cnt) AS BIGINT) AS cnt FROM (
        SELECT r.c, r.cnt,
          CAST(sum(CASE WHEN r.c > e.edge THEN 1 ELSE 0 END) AS BIGINT)
            AS bin
        FROM (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM ref
              GROUP BY 1) r
        CROSS JOIN edges e GROUP BY r.c, r.cnt
      ) v GROUP BY 1
    ),
    cb AS (
      SELECT v.bin, CAST(sum(v.cnt) AS BIGINT) AS cnt FROM (
        SELECT r.c, r.cnt,
          CAST(sum(CASE WHEN r.c > e.edge THEN 1 ELSE 0 END) AS BIGINT)
            AS bin
        FROM (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM cur
              GROUP BY 1) r
        CROSS JOIN edges e GROUP BY r.c, r.cnt
      ) v GROUP BY 1
    ),
    spine AS (SELECT unnest(generate_series(0, 9)) AS bin),
    cells AS (
      SELECT s.bin,
        coalesce(a.cnt, 0) AS ref_cnt, coalesce(b.cnt, 0) AS cur_cnt
      FROM spine s
      LEFT JOIN rb a ON a.bin = s.bin
      LEFT JOIN cb b ON b.bin = s.bin
    ),
    terms AS (
      SELECT bin, ref_cnt, cur_cnt,
        CAST(floor(1000000000.0 * (
          (CAST(ref_cnt + 1 AS DOUBLE) / (n_ref + 10)
           - CAST(cur_cnt + 1 AS DOUBLE) / (n_cur + 10))
          * ln(CAST((ref_cnt + 1) * (n_cur + 10) AS DOUBLE)
               / CAST((cur_cnt + 1) * (n_ref + 10) AS DOUBLE))
        )) AS BIGINT) AS term_fp
      FROM cells, rn, cn
    ),
    tot AS (
      SELECT CAST(sum(term_fp) AS BIGINT) AS psi_fp FROM terms
    )
    SELECT t.bin, t.ref_cnt, t.cur_cnt, t.term_fp,
      round(CAST(tot.psi_fp AS DOUBLE) / 1000000000.0, 6) AS psi,
      tot.psi_fp < 100000000 AS stable_lt_01
    FROM terms t CROSS JOIN tot
    """,
)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POPULATION STABILITY INDEX of the `value` distribution between
    the first and last 15 days — the standard production drift gate
    (PSI < 0.1 stable, > 0.25 retrain) that snapshot_profile_drift's
    schema-profile monitor and the two-sample tests (KS, CvM,
    Wasserstein) bracket but never emit in PSI's bin-decomposed form,
    which is what tells you WHERE the distribution moved. Bin edges
    are the reference period's exact deciles (rank ceil(q·n/10) via a
    running sum over distinct cents); both periods bin by
    count-of-edges-below; +1 Laplace on every bin makes the log
    defined under empty current bins.

    Exactness: bin assignments and counts are exact integers; each
    bin's PSI term is ONE shared IEEE tree on exact integers
    ((a+1)/A' − (b+1)/B') · ln((a+1)B'/((b+1)A')), floored to 1e9
    fixed point BEFORE the 10-term sum.

    Scale shape: ONE events scan folds into a bounded (period, cents)
    count table (≤ 2·|distinct cents| rows, localCheckpoint-pinned
    because five downstream subtrees read it — scalars, the decile
    running sum, and both bin maps); the 9-edge table broadcasts;
    everything after is 10-row arithmetic."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.expr("unix_micros(ts) div 86400000000").alias("g"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        )
    )
    lo = e.agg(F.min("g").alias("mn"))
    # one scan: per-(period, cents) counts; bounded by the cents domain
    pv = (
        e.crossJoin(F.broadcast(lo))
        .groupBy(
            (F.col("g") < F.col("mn") + 15).alias("is_ref"), F.col("c")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    from ..operators.aggregates import psi_from_period_counts

    return psi_from_period_counts(pv)


_SF_B = 200


@register(
    "sign_flip_permutation_test",
    f"""
    WITH days AS (
      SELECT epoch_ns(ts) // 1000 // 86400000000 AS g,
        CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT)
        - CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS d
      FROM events GROUP BY 1
    ),
    rn AS (
      SELECT d, CAST(row_number() OVER (ORDER BY g) AS BIGINT) AS i
      FROM days
    ),
    grid AS (
      SELECT b.b, r.i, r.d,
        md5(CAST(b.b AS VARCHAR) || ':' || CAST(r.i AS VARCHAR)) AS h
      FROM (SELECT unnest(generate_series(1, {_SF_B})) AS b) b
      CROSS JOIN rn r
    ),
    flipped AS (
      SELECT b,
        CAST(sum(CASE WHEN
          {hex_prefix_int('h', 1)} % 2 = 0
          THEN d ELSE -d END) AS BIGINT) AS t
      FROM grid GROUP BY 1
    ),
    obs AS (
      SELECT CAST(sum(d) AS BIGINT) AS t_obs,
        CAST(count(*) AS BIGINT) AS n_days
      FROM days
    )
    SELECT o.n_days, CAST({_SF_B} AS BIGINT) AS n_perm, o.t_obs,
      CAST(sum(CASE WHEN abs(f.t) >= abs(o.t_obs) THEN 1 ELSE 0 END)
           AS BIGINT) AS n_ge,
      round((CAST(sum(CASE WHEN abs(f.t) >= abs(o.t_obs)
                      THEN 1 ELSE 0 END) AS DOUBLE) + 1)
            / ({_SF_B} + 1), 6) AS p_value
    FROM flipped f CROSS JOIN obs o
    GROUP BY o.n_days, o.t_obs
    """,
)
def q_sign_flip_permutation_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PAIRED SIGN-FLIP PERMUTATION TEST on the daily click−view
    differences: under H₀ (exchangeable pair members) each day's d is
    ±d with equal probability, so the null distribution of T = Σd is
    sampled by B=200 md5-derived sign patterns and p = (#{|T_b| ≥
    |T_obs|} + 1)/(B + 1) (the add-one convention that keeps p valid
    as a test). The EXACT-arithmetic companion to
    wilcoxon_signed_rank_daily (same pairing, no normal
    approximation, no variance formula — the permutation machinery
    bootstrap_mean_ci_daily applies to estimation, applied to
    testing).

    Exactness: every flipped total is a SIGNED SUM OF EXACT INTEGERS —
    unlike the bootstrap there is not a single float anywhere until
    the final round-6 p-value division; sign b,i = parity of the first
    md5 nibble of b:i, replayed byte-for-byte by the oracle.

    Scale shape: one events scan → a 30-row daily pivot; the B×n sign
    grid is a broadcast crossJoin (6000 rows) aggregated per b."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("g")
    ).agg(
        (
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            - F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        )
        .cast("bigint")
        .alias("d")
    )
    rn = days.select(
        "d",
        F.row_number().over(Window.orderBy("g")).cast("bigint").alias("i"),
    )
    spine = spark.range(1, _SF_B + 1).select(F.col("id").alias("b"))
    grid = rn.crossJoin(F.broadcast(spine))
    flipped = grid.groupBy("b").agg(
        F.sum(
            F.when(
                F.expr(
                    "CAST(conv(substring(md5(CAST(b AS STRING) || ':' ||"
                    " CAST(i AS STRING)), 1, 1), 16, 10) AS BIGINT)"
                    " % 2 = 0"
                ),
                F.col("d"),
            ).otherwise(-F.col("d"))
        )
        .cast("bigint")
        .alias("t")
    )
    obs = days.agg(
        F.sum("d").alias("t_obs"), F.count(F.lit(1)).alias("n_days")
    )
    return (
        flipped.crossJoin(F.broadcast(obs))
        .groupBy("n_days", "t_obs")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("t")) >= F.abs(F.col("t_obs")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_ge")
        )
        .select(
            "n_days",
            F.lit(_SF_B).cast("bigint").alias("n_perm"),
            "t_obs",
            "n_ge",
            F.round(
                (F.col("n_ge").cast("double") + 1) / (_SF_B + 1), 6
            ).alias("p_value"),
        )
    )


_MI_TOPK = 10


@register(
    "mutual_info_embedding_dims",
    f"""
    WITH x0 AS (
      SELECT label,
        unnest(list_transform(range(1, len(embedding) + 1),
          i -> struct_pack(
            dim := CAST(i - 1 AS BIGINT),
            bin := CAST(floor((embedding::DOUBLE[])[i] * 8)
                        AS BIGINT)))) AS s
      FROM embeddings
    ),
    x AS (SELECT label, s.dim AS dim, s.bin AS bin FROM x0),
    cell AS (
      SELECT dim, bin, label, CAST(count(*) AS BIGINT) AS c
      FROM x GROUP BY 1, 2, 3
    ),
    mx AS (
      SELECT dim, bin, CAST(sum(c) AS BIGINT) AS cx FROM cell
      GROUP BY 1, 2
    ),
    my AS (
      SELECT dim, label, CAST(sum(c) AS BIGINT) AS cy FROM cell
      GROUP BY 1, 2
    ),
    nn AS (SELECT dim, CAST(sum(c) AS BIGINT) AS n FROM cell GROUP BY 1),
    terms AS (
      SELECT cell.dim,
        cell.c * CAST(floor(1000000000.0 * ln(
          CAST(nn.n * cell.c AS DOUBLE)
          / CAST(mx.cx * my.cy AS DOUBLE))) AS BIGINT) AS t_fp
      FROM cell
      JOIN mx ON mx.dim = cell.dim AND mx.bin = cell.bin
      JOIN my ON my.dim = cell.dim AND my.label = cell.label
      JOIN nn ON nn.dim = cell.dim
    ),
    mi AS (
      SELECT t.dim, nn.n, CAST(sum(t.t_fp) AS BIGINT) AS mi_fp
      FROM terms t JOIN nn ON nn.dim = t.dim
      GROUP BY 1, 2
    )
    SELECT dim, n, mi_fp,
      round(CAST(mi_fp AS DOUBLE) / (n * 1000000000.0), 6) AS mi_nats,
      CAST(row_number() OVER (
        ORDER BY round(CAST(mi_fp AS DOUBLE) / (n * 1000000000.0), 6)
          DESC, dim) AS BIGINT) AS rnk
    FROM mi
    QUALIFY rnk <= {_MI_TOPK}
    """,
)
def q_mutual_info_embedding_dims(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MUTUAL INFORMATION per embedding dimension against the class
    label (values quantized to eighth-unit bins): I(X;Y) =
    Σ p(x,y)·ln(n·c_xy/(c_x·c_y)) — the NONLINEAR feature-screening
    companion to anova_f_embedding_dims (the F-ratio only sees mean
    shifts; MI also ranks dims whose class signal lives in variance
    or multi-modality). Emits the top-10 dims by MI in nats
    (round-6 rank, dim tie-break — the rounded-score-cut discipline).

    Exactness: bin and cell counts are exact integers; each cell's
    log-ratio ln(n·c_xy/(c_x·c_y)) is one libm call on a ratio of
    exact ints (< 2⁵³, so the doubles are exact), floored to 1e9
    fixed point and then scaled by the exact integer c_xy — so the
    per-dim MI numerators are associative BIGINT sums (zero cells are
    simply absent). One final IEEE division per dim, round-6 before
    the rank cut.

    Scale shape: one posexplode scan → one (dim, bin, label) hash
    aggregate (≤ 64·9·10 cells at any SF); marginals and MI are
    group-bys over those cells."""
    x = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "xv"
        ),
    ).select(
        "label",
        F.col("dim").cast("bigint").alias("dim"),
        F.expr("CAST(floor(xv * 8) AS BIGINT)").alias("bin"),
    )
    cell = x.groupBy("dim", "bin", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    mx = cell.groupBy("dim", "bin").agg(F.sum("c").alias("cx"))
    my = cell.groupBy("dim", "label").agg(F.sum("c").alias("cy"))
    nn = cell.groupBy("dim").agg(F.sum("c").alias("n"))
    terms = (
        cell.join(mx, ["dim", "bin"])
        .join(my, ["dim", "label"])
        .join(nn, "dim")
        .select(
            "dim",
            F.expr(
                "c * CAST(floor(1000000000.0 * ln("
                "CAST(n * c AS DOUBLE) / CAST(cx * cy AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("t_fp"),
        )
    )
    mi = terms.groupBy("dim").agg(F.sum("t_fp").alias("mi_fp")).join(
        nn, "dim"
    )
    scored = mi.select(
        "dim",
        "n",
        "mi_fp",
        F.round(
            F.col("mi_fp").cast("double")
            / (F.col("n") * 1_000_000_000.0),
            6,
        ).alias("mi_nats"),
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("mi_nats"), F.asc("dim")))
            .cast("bigint"),
        )
        .filter(F.col("rnk") <= _MI_TOPK)
    )
