"""Round-11 registrations: ANF/HyperANF neighborhood-function
estimation and companions.

Like every plans module, each @register pairs the Spark plan with a
DuckDB oracle; exact-arithmetic disciplines (doubled ranks, fixed-point
floors, HUGEINT/decimal(38,0) crossings) per NOTES.md.

No counterpart exists in the reference (three linear streaming
scripts — SURVEY.md §2); north-star analytics extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import hex_prefix_int
from ..sources.files import load_table
from .copurchase import copurchase_edges
from .queries import register

_ANF_HOPS = 4
_ANF_SEEDS = 4
#: certified per-hop bound on the summed-seed relative error of the
#: m=16 estimator (σ≈26% per sketch; summed over 4 seeds; measured max
#: across sf0.001/0.01/0.1 and all hops = 0.337, at the smallest
#: non-trivial ball — 0.5 certifies with margin)
_ANF_ERR_BOUND = 0.5

#: certified bound for the m=64 estimator (σ≈13%/sketch): measured max
#: summed-seed rel_err across sf0.001/0.01/0.1 and all hops = 0.206
#: (sf0.01, smallest seed balls of the 0-1 slice; deterministic md5
#: registers, so the margin cannot drift) — 0.25 certifies, half the
#: m=16 bound.
_ANF_ERR_BOUND64 = 0.25


def _term_fp(m: int) -> str:
    """One node's HLL estimate (operators/sketches.py hll_estimate_sql
    over its (s_int, n_regs) summary) floored to 1e6 fixed point."""
    from ..operators.sketches import hll_estimate_sql

    return f"CAST(floor(({hll_estimate_sql(m)}) * 1000000.0) AS BIGINT)"


def _anf_oracle(m: int = 16, chars: tuple = ("0", "1", "2", "3")) -> str:
    """Full replica: the same md5 m-register sketches propagated ≤4
    hops by a recursive CTE over the self-loop-closed edge set (a
    register present within ≤h persists to h+1 via the loop), the
    identical estimate arithmetic, and the same 4-seed exact-BFS
    certificate. m selects the 16- (σ≈26%) or 64-register (σ≈13%)
    construction."""
    from ..operators.sketches import HLL_SUMMARY_SQL, hll_register_exprs

    # salted like the operator: the slice filter already consumed
    # md5(node)'s first char, so the sketch must hash differently
    ex = hll_register_exprs("concat(CAST(node AS VARCHAR), ':anf')", m)
    err_bound = _ANF_ERR_BOUND if m == 16 else _ANF_ERR_BOUND64
    chars_sql = ", ".join(f"'{c}'" for c in chars)
    return f"""
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1)
        IN ({chars_sql})
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT pa AS src, pb AS dst FROM e0
          UNION ALL SELECT pb, pa FROM e0),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    es AS (SELECT src, dst FROM e
           UNION ALL SELECT node, node FROM nodes),
    r0 AS (
      SELECT node, {ex["bucket_hex"]} AS bucket_hex,
        CAST({ex["rho"]} AS BIGINT) AS rho
      FROM nodes
    ),
    spread(node, bucket_hex, rho, hop) AS (
      SELECT node, bucket_hex, rho, CAST(0 AS BIGINT) FROM r0
      UNION
      SELECT es.src, s.bucket_hex, s.rho, s.hop + 1
      FROM spread s JOIN es ON es.dst = s.node
      WHERE s.hop < {_ANF_HOPS}
    ),
    regs AS (
      SELECT hop, node, bucket_hex, MAX(rho) AS rho
      FROM spread GROUP BY 1, 2, 3
    ),
    summary AS (
      SELECT hop, node, {", ".join(HLL_SUMMARY_SQL)}
      FROM regs GROUP BY 1, 2
    ),
    pernode AS (
      SELECT hop, node, {_term_fp(m)} AS term_fp FROM summary
    ),
    nf AS (
      SELECT hop, CAST(SUM(term_fp) AS BIGINT) AS nf_fp FROM pernode
      GROUP BY hop
    ),
    seeds AS (
      SELECT node AS seed FROM nodes ORDER BY node LIMIT {_ANF_SEEDS}
    ),
    walk(seed, node, hop) AS (
      SELECT seed, seed, 0 FROM seeds
      UNION
      SELECT w.seed, e.dst, w.hop + 1
      FROM walk w JOIN e ON e.src = w.node
      WHERE w.hop < {_ANF_HOPS}
    ),
    dist AS (
      SELECT seed, node, CAST(MIN(hop) AS BIGINT) AS hop
      FROM walk GROUP BY seed, node
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(0, {_ANF_HOPS})) AS BIGINT)
        AS hop
    ),
    sx AS (
      SELECT sp.hop,
        (SELECT CAST(count(*) AS BIGINT) FROM dist d
         WHERE d.hop <= sp.hop) AS seed_exact
      FROM spine sp
    ),
    se AS (
      SELECT p.hop, CAST(SUM(p.term_fp) AS BIGINT) AS seed_est_fp
      FROM pernode p JOIN seeds s ON s.seed = p.node
      GROUP BY p.hop
    )
    SELECT nf.hop, nf.nf_fp,
      round(CAST(nf.nf_fp AS DOUBLE) / 1000000.0, 4) AS nf_est,
      sx.seed_exact, se.seed_est_fp,
      round(abs(CAST(se.seed_est_fp - sx.seed_exact * 1000000
                     AS DOUBLE))
            / CAST(sx.seed_exact * 1000000 AS DOUBLE), 6) AS rel_err,
      abs(CAST(se.seed_est_fp - sx.seed_exact * 1000000 AS DOUBLE))
        / CAST(sx.seed_exact * 1000000 AS DOUBLE)
        <= {err_bound!r} AS cert_ok
    FROM nf JOIN sx ON sx.hop = nf.hop JOIN se ON se.hop = nf.hop
    """


@register("anf_hop_histogram", _anf_oracle())
def q_anf_hop_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF/HyperANF neighborhood function over the sampled co-purchase
    graph (VERDICT r10 #6): NF(h) = Σ_v |B(v, h)| estimated from
    per-node 16-register HLL hop sketches advanced by the sketch-union
    recurrence on the packed layout of operators/graphs.anf_hop_summary
    (one row per node, one rho column per register) — the 100 TB
    graduation the effective_diameter_copurchase docstring names:
    state is |V| rows of 16 registers per hop however dense the balls
    get, where
    the exact histogram's Σ|B(v,h)| reaches |V|² by hop 3 on a
    small-world graph.

    In-query accuracy certificate (the IVF recall-certificate
    pattern): the 4 smallest node ids are BFS'd exactly (the diameter
    query's seeded walk), and per hop the summed seed-ball estimate is
    compared against the summed exact ball size — `rel_err` (round-6)
    with `cert_ok` = rel_err ≤ 0.5 (measured max 0.337 across SFs and
    hops; m=16 ⇒ σ ≈ 26% per sketch, certified rather than
    engineered down).

    Exactness: registers are pure md5 string/integer ops; per-hop
    per-node s_int is an exact Σ 2^(49−ρ) BIGINT; the estimate
    (operators/sketches.py hll_estimate_sql, shared with the m=256
    family) is one IEEE division by folded literals (the
    linear-counting branch's ln is the only libm call);
    per-node terms floor to 1e6 fixed point BEFORE the cross-row sum,
    so NF totals are associative integers in both engines.

    Scale shape: one hop = one keyed join (edges ⋈ packed rows) + one
    node-keyed hash-agg taking the max of each of the 16 rho columns;
    estimates are a |V|-row projection per hop; the certificate costs
    4 frontier BFS runs. The oracle replays unpacked (node, bucket)
    registers through a self-loop-closed recursive CTE and the
    identical estimate arithmetic (anf_hop_summary is pytest-pinned
    equal to the unpacked anf_hop_registers form)."""
    return _anf_query(spark, sf_dir, m=16)


@register("anf_hop_histogram_m64", _anf_oracle(64, chars=("0", "1")))
def q_anf_hop_histogram_m64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The m=64 graduation of anf_hop_histogram (r11 VERDICT #5):
    identical recurrence and certificate, 64 registers per node (σ ≈
    1.04/√64 ≈ 13% per sketch, 4× the register rows — still 64·|V|
    per hop vs the exact histogram's |V|²), with the certificate
    bound TIGHTENED to rel_err ≤ 0.25 (measured max summed-seed
    rel_err 0.206 across sf0.001/0.01/0.1 and all hops, vs 0.337 for
    m=16; deterministic registers, so the margin holds exactly).
    Bucket portability: 6 uniform bits as first-hex-char +
    second-char-quadrant strings (operators/sketches.py
    hll_register_exprs with m=64) — pure string ops in both engines. Runs on
    the md5-first-char 0-1 part slice (half the m=16 query's graph):
    the certificate grades ESTIMATOR accuracy, which is
    graph-size-independent, and 64 registers on the full slice would
    make this the most expensive bench query for no extra signal."""
    return _anf_query(spark, sf_dir, m=64, chars=("0", "1"))


def _anf_query(
    spark: SparkSession,
    sf_dir: str,
    m: int,
    chars: tuple = ("0", "1", "2", "3"),
) -> DataFrame:
    from ..operators.graphs import anf_hop_summary, bfs_hops_tagged

    err_bound = _ANF_ERR_BOUND if m == 16 else _ANF_ERR_BOUND64

    e = copurchase_edges(
        spark, sf_dir, sample_chars=tuple(chars)
    ).localCheckpoint()
    # r12: the packed-register operator computes the identical
    # (hop, node, s_int, n_regs) with m-fold fewer state/shuffle rows
    # per hop (pytest-pinned equal to the anf_hop_registers form)
    summary = anf_hop_summary(e, _ANF_HOPS, m=m)
    pernode = summary.select(
        "hop", "node", F.expr(_term_fp(m)).alias("term_fp")
    ).localCheckpoint()
    nf = pernode.groupBy("hop").agg(F.sum("term_fp").alias("nf_fp"))

    nodes = (
        e.select(F.col("pa").alias("n"))
        .unionByName(e.select(F.col("pb").alias("n")))
        .distinct()
    )
    seeds = [
        r["n"] for r in nodes.orderBy("n").limit(_ANF_SEEDS).collect()
    ]
    # one tagged frontier loop for all 4 seeds (4 rounds, not 16)
    dist = bfs_hops_tagged(e, seeds, max_hops=_ANF_HOPS)
    from pyspark.sql.window import Window

    per_hop = dist.groupBy("hop").agg(F.count(F.lit(1)).alias("c"))
    spine = spark.range(0, _ANF_HOPS + 1).select(
        F.col("id").alias("hop")
    )
    sx = (
        spine.join(per_hop, "hop", "left")
        .select(
            "hop", F.coalesce("c", F.lit(0)).alias("c")
        )
        .select(
            "hop",
            F.sum("c")
            .over(
                Window.orderBy("hop").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .cast("bigint")
            .alias("seed_exact"),
        )
    )
    se = (
        pernode.filter(F.col("node").isin(seeds))
        .groupBy("hop")
        .agg(F.sum("term_fp").alias("seed_est_fp"))
    )
    err = F.expr(
        "abs(CAST(seed_est_fp - seed_exact * 1000000 AS DOUBLE))"
        " / CAST(seed_exact * 1000000 AS DOUBLE)"
    )
    return (
        nf.join(sx, "hop")
        .join(se, "hop")
        .select(
            "hop",
            "nf_fp",
            F.round(
                F.col("nf_fp").cast("double") / 1_000_000.0, 4
            ).alias("nf_est"),
            "seed_exact",
            "seed_est_fp",
            F.round(err, 6).alias("rel_err"),
            (err <= F.lit(err_bound)).alias("cert_ok"),
        )
    )


_THETA_K = 64  # < distinct users/type at every SF -> real truncated-sketch regime
#: 2^48 + 1 — the u = (h48 + 1)/(2^48 + 1) ∈ (0, 1) denominator for
#: md5-derived uniforms (first 12 hex chars)
_U_DEN = "281474976710657.0"

#: first 12 hex chars of the digest h as an exact BIGINT (Spark side:
#: conv(.., 16, 10))
_H48 = hex_prefix_int("h", 12)


@register(
    "theta_intersection_cardinality",
    f"""
    WITH days AS (
      SELECT epoch_ns(ts) // 1000 // 86400000000 AS g, user_id
      FROM events
    ),
    lo AS (SELECT min(g) AS mn FROM days),
    m AS (
      SELECT DISTINCT g, md5(CAST(user_id AS VARCHAR)) AS h
      FROM days, lo WHERE g < mn + 8
    ),
    rk AS (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
      FROM m
    ),
    samp AS (SELECT g, h FROM rk WHERE rk <= {_THETA_K}),
    gs AS (SELECT DISTINCT g FROM samp),
    pairs AS (
      SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g
    ),
    uni AS (
      SELECT p.ga, p.gb, s.h, CAST(count(*) AS BIGINT) AS sides
      FROM pairs p JOIN samp s ON s.g = p.ga OR s.g = p.gb
      GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT ga, gb, h, sides,
        row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
      FROM uni
    ),
    agg AS (
      -- hex→int is monotone in digest order, so the k-th smallest
      -- kept digest's value is simply MAX over the kept rows
      SELECT ga, gb,
        CAST(count(*) AS BIGINT) AS k_used,
        CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS sample_inter,
        CAST(max({_H48}) AS BIGINT) AS vk
      FROM merged WHERE rk <= {_THETA_K}
      GROUP BY 1, 2
    )
    SELECT ga, gb, k_used, sample_inter,
      -- small-set branch: k_used < k = union fully sampled, exact
      round((CASE WHEN k_used < {_THETA_K} THEN CAST(k_used AS DOUBLE)
             ELSE CAST(k_used - 1 AS DOUBLE) * 281474976710656.0
                  / CAST(vk AS DOUBLE) END)
            * (CAST(sample_inter AS DOUBLE) / CAST(k_used AS DOUBLE)),
            4) AS inter_est
    FROM agg
    """,
)
def q_theta_intersection_cardinality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theta-sketch-style INTERSECTION CARDINALITY between daily
    active-user cohorts (first 8 days — pairwise Jaccard ≈ 0.8 on the
    fixture, so the truncated-sketch regime is real: sample_inter
    45-56 of k=64, estimates within ~5% mean / 15% max of exact,
    measured sf0.01) from mergeable KMV samples — the set-operation
    the HLL family cannot answer and the CARDINALITY the existing
    kmv_jaccard_pairs ratio stops short of: est |A∩B| = jaccard_est ×
    union_est, with union_est = (k−1)/u_k from the k-th smallest md5
    fraction of the merged sample (Beyer et al.; the Apache
    DataSketches theta construction restated on exact integers).

    Exactness: digests order lexicographically = numerically; u_k's
    48-bit prefix converts to an exact BIGINT (Spark conv(), DuckDB
    per-nibble shifts); the estimate is ONE shared IEEE tree on four
    exact integers (k_used, sample_inter, 2^48, v_k), round-4.

    Scale shape: one distinct + per-group bottom-k window builds the
    samples (map-side distinct partials); everything after runs on
    ≤ |groups|²·k sample rows — corpus-scale overlap answered on
    kilobytes."""
    from ..operators.sketches import kmv_intersection_pairs, kmv_samples

    days = load_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 86400000000").alias("g"), "user_id"
    )
    lo = days.agg(F.min("g").alias("mn"))
    ev = days.crossJoin(F.broadcast(lo)).filter(
        F.col("g") < F.col("mn") + 8
    ).select("g", "user_id")
    samples = kmv_samples(ev, "g", "user_id", k=_THETA_K)
    return kmv_intersection_pairs(samples, "g", k=_THETA_K)


_ES_K = 50


@register(
    "weighted_sample_without_replacement",
    f"""
    WITH d AS (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS w,
        md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents WHERE length(text) > 0
    ),
    keyed AS (
      SELECT doc_id, w,
        CAST(floor(1000000000.0 * ln(
          CAST({_H48} + 1 AS DOUBLE) / {_U_DEN})
          / w) AS BIGINT) AS key_fp
      FROM d
    ),
    rk AS (
      SELECT doc_id, w, key_fp,
        row_number() OVER (ORDER BY key_fp DESC, doc_id) AS rk
      FROM keyed
    )
    SELECT doc_id, w, key_fp, CAST(rk AS BIGINT) AS rk FROM rk
    WHERE rk <= {_ES_K}
    """,
)
def q_weighted_sample_without_replacement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling WITHOUT replacement (top-k
    by u^(1/w), equivalently by ln(u)/w) with md5-derived uniforms —
    the reproducible weighted-draw the sampling family was missing:
    mixture/temperature/PPS sample WITH replacement or systematically;
    ES gives each document inclusion probability proportional to its
    weight with no duplicates, and a md5 seed makes every engine (and
    every rerun) draw the same sample — the audit-friendly property
    the 100 TB curation pipeline needs.

    Exactness: u = (h48+1)/(2^48+1) from exact integers; the sort key
    floors ln(u)/w to 1e9 fixed point per row (the floored-fp
    transcendental discipline — keys become exact integers, so the
    ORDER BY is deterministic in both engines; doc_id breaks the rare
    fp ties identically). Top-k by key_fp DESC.

    Scale shape: one scan computing a per-row key, then a global top-k
    planned as TakeOrderedAndProject (per-partition heap-k + driver
    merge of p·k rows — no shuffle of the corpus to one partition, no
    full sort materialization); the row_number that names the ranks
    runs AFTER the limit, over a bounded k-row frame."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    keyed = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("w"),
        F.expr(
            "CAST(floor(1000000000.0 * ln("
            "CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12),"
            " 16, 10) AS BIGINT) + 1 AS DOUBLE) / " + _U_DEN + ")"
            " / w) AS BIGINT)"
        ).alias("key_fp"),
    )
    from pyspark.sql.window import Window

    # orderBy().limit(k) plans as TakeOrderedAndProject; the window
    # then ranks only the surviving k rows (bounded frame, not the
    # corpus) — same rows/ranks as a global row_number <= k cut.
    topk = keyed.orderBy(F.desc("key_fp"), F.asc("doc_id")).limit(_ES_K)
    return topk.withColumn(
        "rk",
        F.row_number()
        .over(Window.orderBy(F.desc("key_fp"), F.asc("doc_id")))
        .cast("bigint"),
    )


@register(
    "anova_f_embedding_dims",
    """
    WITH x0 AS (
      SELECT label,
        unnest(list_transform(range(1, len(embedding) + 1),
          i -> struct_pack(
            dim := CAST(i - 1 AS BIGINT),
            c := CAST(floor((embedding::DOUBLE[])[i] * 1000)
                      AS BIGINT)))) AS s
      FROM embeddings
    ),
    x AS (SELECT label, s.dim AS dim, s.c AS c FROM x0),
    cl AS (
      SELECT dim, label, CAST(count(*) AS BIGINT) AS nc,
        CAST(sum(c) AS BIGINT) AS sc
      FROM x GROUP BY 1, 2
    ),
    tot AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(c) AS BIGINT) AS s,
        CAST(sum(c * c) AS BIGINT) AS q,
        CAST(count(DISTINCT label) AS BIGINT) AS k
      FROM x GROUP BY 1
    ),
    btw AS (
      -- Σ_c floor(1000·S_c²/n_c): exact int64 (|S_c| ≤ 1.3e5 here)
      SELECT dim,
        CAST(sum((sc * sc * 1000) // nc) AS BIGINT) AS sum_cls_fp
      FROM cl GROUP BY 1
    ),
    f AS (
      SELECT t.dim, t.n, t.k,
        b.sum_cls_fp - (t.s * t.s * 1000) // t.n AS ssb_fp,
        t.q * 1000 - b.sum_cls_fp AS ssw_fp
      FROM tot t JOIN btw b ON b.dim = t.dim
    )
    SELECT dim, n,
      round((CAST(ssb_fp AS DOUBLE) / (k - 1))
            / (CAST(ssw_fp AS DOUBLE) / (n - k)), 6) AS fisher_f,
      CAST(row_number() OVER (
        ORDER BY round((CAST(ssb_fp AS DOUBLE) / (k - 1))
                       / (CAST(ssw_fp AS DOUBLE) / (n - k)), 6) DESC,
                 dim) AS BIGINT) AS rnk
    FROM f
    QUALIFY rnk <= 10
    """,
)
def q_anova_f_embedding_dims(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-way ANOVA F per EMBEDDING DIMENSION against the class
    label — the feature-screening pass (Fisher criterion) that ranks
    which of the 64 dims actually separate the classes before anyone
    trains on them; the embedding-space twin of anova_value_by_type
    and the scalar complement of embedding_centroid_per_label.
    Emits the top-10 dims by F (deterministic: rank on the ROUND-6 F,
    dim tie-break — the rounded-score-cut discipline).

    Exactness: values quantize to floor(x·1000) integer codes; per
    (dim, label) sums and the global Σc, Σc² are exact BIGINTs; the
    between/within sums of squares assemble DIVISION-FREE up to the
    per-class floor(1000·S_c²/n_c) integer terms (int64-safe here:
    |S_c| ≤ 580·218 ⇒ S_c²·1000 ≤ 1.6e13; at ~100× rows the S²·1000
    term crosses 2⁶³ — the documented decimal(38,0)/HUGEINT
    graduation). F is ONE shared IEEE tree on exact ints, round-6
    BEFORE the rank cut so both engines order identically.

    Scale shape: one posexplode scan → two hash aggregates keyed on
    (dim[, label]) — 64·k and 64 groups — then a 64-row window."""
    from pyspark.sql.window import Window

    x = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "xv"
        ),
    ).select(
        "label",
        F.col("dim").cast("bigint").alias("dim"),
        F.expr("CAST(floor(xv * 1000) AS BIGINT)").alias("c"),
    )
    cl = x.groupBy("dim", "label").agg(
        F.count(F.lit(1)).alias("nc"), F.sum("c").alias("sc")
    )
    tot = x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
        F.countDistinct("label").alias("k"),
    )
    btw = cl.groupBy("dim").agg(
        F.expr("CAST(sum((sc * sc * 1000) DIV nc) AS BIGINT)").alias(
            "sum_cls_fp"
        )
    )
    f = tot.join(btw, "dim").select(
        "dim",
        "n",
        "k",
        F.expr("sum_cls_fp - (s * s * 1000) DIV n").alias("ssb_fp"),
        F.expr("q * 1000 - sum_cls_fp").alias("ssw_fp"),
    )
    scored = f.select(
        "dim",
        "n",
        F.round(
            (F.col("ssb_fp").cast("double") / (F.col("k") - 1))
            / (F.col("ssw_fp").cast("double") / (F.col("n") - F.col("k"))),
            6,
        ).alias("fisher_f"),
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("fisher_f"), F.asc("dim")))
            .cast("bigint"),
        )
        .filter(F.col("rnk") <= 10)
    )
