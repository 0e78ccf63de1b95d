"""Round-4 fifth wave: exact set-similarity joins and grid sampling.

The LSH family (dedup_minhash_*, dedup_embedding_cosine) generates
candidates probabilistically; production curation pipelines also need
the EXACT counterparts — an inverted-index sparse-cosine join
(Elsayed/Lin/Oard pairwise-similarity shape) and a lossless
prefix-filtered Jaccard join (SSJoin/PPJoin family) — plus
budget-proportional sampling (systematic PPS) whose determinism
survives engine/layout/retry changes. No analytics of any kind exists
in the reference (three linear streaming scripts, SURVEY.md §2);
north-star extensions per the build brief. All three queries carry
full DuckDB oracles; cross-engine float discipline per NOTES.md
(integer partial sums only; doubles appear only in final
division/sqrt on identical operands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import prefix_filter_near_dups, sparse_cosine_pairs
from ..operators.sampling import systematic_pps_sample
from ..sources.files import load_table, load_table_spread
from .copurchase import copurchase_edges
from .queries import register

# Super-hub cap for link-prediction wedge centers: a center z fans out
# deg(z)² candidate pairs, so one hub dominates the wedge count; capping
# at this degree bounds per-center work to K² while dropping only the
# centers whose 1/deg (resource-allocation) contribution is smallest.
# The SQL oracle embeds the same literal — keep them in sync.
WEDGE_CENTER_DEG_CAP = 48

#: shared with dedup_minhash_lsh: exact all-pairs word-3-gram Jaccard.
#: The prefix-filter join is LOSSLESS (prefix theorem, see
#: operators/dedup.py:prefix_filter_near_dups), so unlike the LSH
#: queries this equality is unconditional — no fixture-gap argument
#: needed for recall.
_EXACT_JACCARD_ORACLE = """
    WITH sets AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
          ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')) END) AS sset
      FROM documents
    ), sizes AS (SELECT doc_id, len(sset) AS sz FROM sets),
    ex AS (SELECT doc_id, unnest(sset) AS sh FROM sets),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.sh = b.sh AND b.doc_id > a.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
"""


@register(
    "sparse_cosine_pairs",
    """
    WITH sets AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
          ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')) END) AS sset
      FROM documents
    ),
    ex AS (SELECT doc_id, unnest(sset) AS sh FROM sets),
    w AS (
      SELECT sh,
             CAST(floor(1000000.0 / count(*)) AS BIGINT)
               * CAST(floor(1000000.0 / count(*)) AS BIGINT) AS wsq
      FROM ex GROUP BY sh HAVING count(*) <= 64
    ),
    post AS (SELECT e.doc_id, e.sh, w.wsq FROM ex e JOIN w USING (sh)),
    norms AS (SELECT doc_id, sum(wsq) AS nrm FROM post GROUP BY doc_id),
    num AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.wsq) AS num
      FROM post a JOIN post b ON a.sh = b.sh AND b.doc_id > a.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
      CAST(num AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
    FROM num JOIN norms na ON na.doc_id = doc_a JOIN norms nb ON nb.doc_id = doc_b
    WHERE CAST(num AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) >= 0.30
    """,
)
def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index sparse-cosine similarity join over idf-weighted
    shingle vectors (threshold 0.30, df cap 64). The exact complement
    of the MinHash pipeline: pairs come from a postings equi-join whose
    per-key fan-out the df cap bounds — never all-pairs. Integer w²
    partial sums keep the oracle bit-identical (NOTES.md float rules).
    Fixture: the 25 planted near-dup pairs score ≥ 0.80 and nothing
    else reaches 0.30 (measured gap at sf0.001/0.01) — wide margin, no
    boundary sensitivity."""
    return sparse_cosine_pairs(
        load_table_spread(spark, sf_dir, "documents", "doc_id")
    )


@register("setsim_prefix_filter_pairs", _EXACT_JACCARD_ORACLE)
def q_setsim_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless prefix-filtered Jaccard self-join ≥ 0.5 (SSJoin/PPJoin
    construction): global rarity order on shingles, per-doc prefix of
    length |s| − ⌈t·|s|⌉ + 1, hash join on exploded prefixes + symmetric
    length filter, exact-Jaccard verify. The oracle is exact all-pairs
    Jaccard — equality is UNCONDITIONAL (the filter provably admits
    every qualifying pair; the verify step discards every false
    positive), unlike the banded-LSH twins whose recall argument leans
    on the fixture's similarity gap."""
    return prefix_filter_near_dups(
        load_table_spread(spark, sf_dir, "documents", "doc_id")
    )


_PPS_K = 40


@register(
    "systematic_pps_sample",
    f"""
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS _w,
             md5(CAST(doc_id AS VARCHAR)) AS _ok
      FROM documents
    ),
    cum AS (
      SELECT doc_id, _w,
             sum(_w) OVER (ORDER BY _ok, doc_id
                           ROWS UNBOUNDED PRECEDING) AS _cum
      FROM w
    ),
    t AS (SELECT max(_cum) AS _total FROM cum)
    SELECT doc_id, _w AS weight,
      CAST(((_cum * {_PPS_K} + _total - (_total // 2)) // _total)
         - (((_cum - _w) * {_PPS_K} + _total - (_total // 2)) // _total)
        AS BIGINT) AS n_picks
    FROM cum, t
    WHERE ((_cum * {_PPS_K} + _total - (_total // 2)) // _total)
        - (((_cum - _w) * {_PPS_K} + _total - (_total // 2)) // _total) > 0
    """,
)
def q_systematic_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sample of the corpus, char-budget-weighted:
    exactly 40 picks, inclusion count ∝ n_chars, bit-reproducible
    across engines/layouts (pure integer arithmetic on an md5-ordered
    line — no pow(), no RNG). Cumulative sum is the two-pass
    range-partitioned form, no single-partition window."""
    return systematic_pps_sample(
        load_table(spark, sf_dir, "documents"), "n_chars", _PPS_K
    )


@register(
    "windowed_topk_batch",
    """
    WITH counts AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT window_start, event_type, n,
             row_number() OVER (PARTITION BY window_start
                                ORDER BY n DESC, event_type ASC) AS rank
      FROM counts
    )
    SELECT window_start, CAST(rank AS INT) AS rank, event_type, n
    FROM ranked WHERE rank <= 3
    """,
)
def q_windowed_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.stateful.windowed_topk: the 3 most
    frequent event types per hourly window, ties broken (count desc,
    type asc) — identical contract to the streaming op's append-final
    emissions, here over the full events table with a DuckDB oracle.

    Scale shape: counts first (one (window, type) hash aggregate with
    map-side partials — the only corpus-wide exchange), THEN the rank
    window over the per-window type sets, whose partitions are bounded
    by |distinct types| rows — never a corpus-sized window partition.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("window_start", "rank", "event_type", "n")
    )


@register(
    "incremental_near_dup_lsh",
    """
    WITH d AS (
      SELECT *, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2')
               AS is_batch
      FROM documents
    ),
    sets AS (
      SELECT doc_id, is_batch,
        list_distinct(CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
          ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')) END) AS sset
      FROM d
    ), sizes AS (SELECT doc_id, len(sset) AS sz FROM sets),
    ex AS (SELECT doc_id, is_batch, unnest(sset) AS sh FROM sets),
    inter AS (
      SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.is_batch AND NOT b.is_batch
      GROUP BY 1, 2
    )
    SELECT batch_id, corpus_id,
           CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = batch_id
    JOIN sizes sb ON sb.doc_id = corpus_id
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
    """,
)
def q_incremental_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingest: an incoming batch (a deterministic
    3/16 md5 split of documents — scale-invariant rate, the
    SF-dependent-threshold lesson) probed against the existing corpus
    via the shared LSH band index. Catches the lightly-edited re-crawls
    the exact-digest `incremental_ingest_dedup` query cannot. Oracle:
    exact batch×corpus Jaccard ≥ 0.5 — valid as recall certification
    for the same fixture-gap reason as dedup_minhash_lsh (every true
    pair ≥ 0.9, where 8×4 banding misses with p ≈ 2e-4); soundness is
    exact by construction (verify step)."""
    from pyspark.sql import functions as F

    from ..operators.dedup import incremental_near_dup

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    is_batch = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1", "2"
    )
    return incremental_near_dup(
        docs.filter(~is_batch), docs.filter(is_batch)
    )


@register(
    "normalized_exact_dedup",
    """
    WITH variants AS (
      SELECT doc_id + 10000000 AS doc_id,
             upper(text) || '  !!' AS text
      FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    ),
    all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id, text FROM variants
    ),
    n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g')) AS norm_text
      FROM all_docs
    )
    SELECT md5(norm_text) AS norm_digest,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM n GROUP BY norm_text HAVING count(*) > 1
    """,
)
def q_normalized_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize-then-dedup: exact dedup AFTER text normalization
    (lowercase, strip non-alphanumerics, collapse whitespace) — the
    standard pre-pass that catches trivially-reformatted copies
    (case/punctuation/spacing variants) that byte-exact dedup misses
    and near-dup LSH wastes candidates on. Output groups by the
    NORMALIZED payload: digest, the kept (minimum) id, and copy count
    for groups with actual duplicates.

    Scale shape: one narrow normalization projection + one hash
    aggregate keyed on the normalized text (at 100 TB the exchange key
    would be the md5 digest, not the text — kept as text here so the
    group-by matches the oracle byte-for-byte; the digest column shows
    the production contract). The normalization is three regexp passes
    shared verbatim (RE2-compatible, 'g' semantics match Spark's
    regexp_replace replace-all) with the DuckDB oracle."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # deterministic 4/16 md5 sample of reformatted variants (uppercase +
    # trailing punctuation/extra spaces): the payloads byte-exact dedup
    # misses and this pass must merge — synthesized from the corpus so
    # the oracle replays them exactly (the flagship fixture pattern)
    variants = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            "0", "1", "2", "3"
        )
    ).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  !!")).alias("text"),
    )
    n = docs.unionByName(variants).select(
        "doc_id",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), " +", " "
            )
        ).alias("norm_text"),
    )
    return (
        n.groupBy("norm_text")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select(F.md5("norm_text").alias("norm_digest"), "keep_id", "n_copies")
    )


_KMV_K = 256


#: deterministic audience synthesis for the KMV overlap query: every
#: distinct (event_type, user) expands to 8 member ids shifted by 400
#: per event-type index, so adjacent types share ~2/3 of their members,
#: types two apart ~1/5, farther types none — the estimate exercises
#: the full range instead of the degenerate 1.0 the raw events give
#: (every type spans the same user set in the synthetic data).
_KMV_TYPE_IDX_SQL = (
    "CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1 "
    "WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END"
)


@register(
    "kmv_type_user_overlap",
    f"""
    WITH base AS (SELECT DISTINCT event_type, user_id FROM events),
    m AS (
      SELECT event_type,
             user_id * 8 + r + 400 * ({_KMV_TYPE_IDX_SQL}) AS member_id
      FROM base, range(0, 8) AS t(r)
    ),
    dh AS (
      SELECT DISTINCT event_type, md5(CAST(member_id AS VARCHAR)) AS h
      FROM m
    ),
    samples AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM dh QUALIFY rk <= {_KMV_K}
    ),
    groups AS (SELECT DISTINCT event_type AS g FROM samples),
    pairs AS (
      SELECT a.g AS ga, b.g AS gb FROM groups a JOIN groups b ON a.g < b.g
    ),
    union_rows AS (
      SELECT p.ga, p.gb, s.h, count(*) AS sides
      FROM samples s JOIN pairs p ON s.event_type = p.ga OR s.event_type = p.gb
      GROUP BY 1, 2, 3
    ),
    topk AS (
      SELECT ga, gb, sides,
             row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk
      FROM union_rows QUALIFY rk <= {_KMV_K}
    )
    SELECT ga, gb, count(*) AS k_used,
           CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT) AS sample_inter,
           CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS jaccard_est
    FROM topk GROUP BY ga, gb
    """,
)
def q_kmv_type_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap between event types via KMV (bottom-k) sketch
    set operations — the Jaccard/intersection question HLL cannot
    answer. Hex md5 strings ARE the hash values (lexicographic ==
    numeric order), so the whole sketch — sampling, merge, estimate —
    is deterministic and byte-replicable in DuckDB: the oracle runs
    the identical construction, making this the rare APPROXIMATE
    operator with an EXACT oracle (the estimate itself is the
    certified value; its accuracy vs truth is pytest-gated
    separately — test_kmv_jaccard_estimate_accuracy). Audiences come
    from kmv_planted_members: the raw events give every type the same
    user set (Jaccard 1.0 everywhere), so each (type, user) expands to
    8 member ids shifted 400 per type index — partial disjointness
    that exercises estimates across (0, 1). Scale: after the (type,
    digest) distinct, everything operates on ≤ |types|·k digest
    rows."""
    from ..operators.sketches import kmv_jaccard_pairs, kmv_samples

    ev = load_table(spark, sf_dir, "events")
    members = kmv_planted_members(ev)
    samples = kmv_samples(members, "event_type", "member_id", k=_KMV_K)
    return kmv_jaccard_pairs(samples, "event_type", k=_KMV_K)


def kmv_planted_members(ev: DataFrame) -> DataFrame:
    """Expand events into the partially-disjoint per-type audiences the
    KMV overlap query certifies against (see _KMV_TYPE_IDX_SQL)."""
    from pyspark.sql import functions as F

    return (
        ev.select("event_type", "user_id")
        .distinct()
        .withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(7))))
        .select(
            "event_type",
            (
                F.col("user_id") * 8
                + F.col("_r")
                + F.expr(_KMV_TYPE_IDX_SQL) * 400
            ).alias("member_id"),
        )
    )


@register(
    "triangle_parts_copurchase",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    ),
    e AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.pa x, e1.pb y, e2.pb z
      FROM e e1 JOIN e e2 ON e1.pb = e2.pa
           JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    pern AS (
      SELECT node, count(*) AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    )
    SELECT node AS part, n_triangles,
           row_number() OVER (ORDER BY n_triangles DESC, node ASC) AS rank
    FROM pern QUALIFY rank <= 20
    """,
)
def q_triangle_parts_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by TRIANGLE participation in the co-purchase graph
    (parts co-ordered within an order; deterministic 4/16 md5 node
    sample keeps the synthetic graph's density — avg degree ~120 —
    bench-sized at every SF, the hash-rate-not-absolute-value rule).
    Triangle-dense nodes sit in cohesive co-purchase communities — the
    cohesion signal CC can't give (CC says "connected", triangles say
    "tightly connected").

    Spark side uses the degree-ORIENTED wedge closure
    (operators/graphs.py:triangle_counts — each triangle found exactly
    once at its lowest-order vertex; orientation bounds wedge fan-out
    by O(√m) out-degrees); the oracle brute-forces the 3-way join on
    the a<b<c representation. Identical per-node counts certify the
    orientation argument end-to-end. The final top-20 rank runs over
    per-node counts (|V| rows), not the corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..operators.graphs import triangle_counts

    e = copurchase_edges(spark, sf_dir)
    counts = triangle_counts(e)
    w = Window.orderBy(F.desc("n_triangles"), F.asc("node"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(F.col("node").alias("part"), "n_triangles", "rank")
    )


@register(
    "clustering_coefficient_copurchase",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    ),
    e AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT pa AS node FROM e UNION ALL SELECT pb FROM e
      ) GROUP BY node
    ),
    tri AS (
      SELECT e1.pa x, e1.pb y, e2.pb z
      FROM e e1 JOIN e e2 ON e1.pb = e2.pa
           JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    pern AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY node
    ),
    cc AS (
      SELECT d.node, d.degree, coalesce(p.n_triangles, 0) AS n_triangles,
        round(2.0 * coalesce(p.n_triangles, 0)
              / (d.degree * (d.degree - 1)), 6) AS local_cc
      FROM deg d LEFT JOIN pern p ON p.node = d.node
      WHERE d.degree >= 2
    )
    SELECT node AS part, degree, n_triangles, local_cc,
      CAST(row_number() OVER (
        ORDER BY local_cc DESC, n_triangles DESC, node ASC) AS BIGINT)
        AS rank
    FROM cc QUALIFY rank <= 20
    """,
)
def q_clustering_coefficient_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 parts by LOCAL CLUSTERING COEFFICIENT in the co-purchase
    graph — 2·T(v)/(deg(v)·(deg(v)−1)), the fraction of a node's
    neighbor pairs that are themselves connected. The normalized twin
    of triangle_parts_copurchase's raw counts: triangles rank hubs,
    the coefficient ranks tight LOCAL cliques regardless of degree —
    the community-cohesion diagnostic (watts-strogatz small-world
    statistic) a curation pipeline uses to find redundant product
    clusters. Same deterministic 4/16 md5 node sample as the triangle
    query, so the two certify the same graph.

    Exactness: T and deg are exact BIGINTs; the coefficient is ONE
    double division of exact integers (identical IEEE result in both
    engines) rounded to 6 — no cross-row float accumulation.

    Scale shape: degree aggregate + the oriented-wedge triangle count
    (O(√m) fan-out bound, operators/graphs.py), a broadcast-size
    left join of per-node frames (|V| rows), TakeOrderedAndProject
    top-20. Nothing touches the corpus after the edge distinct."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..operators.graphs import triangle_counts

    # r12 pin kept: triangle_counts' internal oriented-edge checkpoint
    # executes its whole upstream at build time and the degree branch
    # re-ran the edge build again at the final action (exchange reuse
    # cannot span executions); pinned, the edge build runs once
    e = copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionByName(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= 2)
    )
    tri = triangle_counts(e).withColumnRenamed("n_triangles", "_t")
    cc = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("_t"), F.lit(0)).cast("bigint").alias("n_triangles"),
        F.round(
            2.0
            * F.coalesce(F.col("_t"), F.lit(0))
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ).alias("local_cc"),
    )
    w = Window.orderBy(
        F.desc("local_cc"), F.desc("n_triangles"), F.asc("node")
    )
    return (
        cc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select(F.col("node").alias("part"), "degree", "n_triangles",
                "local_cc", "rank")
    )


@register(
    "multiset_ops_all",
    """
    WITH ev AS (SELECT user_id AS id FROM events WHERE event_type = 'purchase'),
    ords AS (SELECT o_custkey AS id FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'intersect' AS op, id FROM (SELECT id FROM ev INTERSECT ALL SELECT id FROM ords)
    UNION ALL
    SELECT 'except' AS op, id FROM (SELECT id FROM ev EXCEPT ALL SELECT id FROM ords)
    """,
)
def q_multiset_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — INTERSECT ALL (min of
    multiplicities) and EXCEPT ALL (multiplicity subtraction) between
    purchase events and urgent orders, keyed on customer id. The ALL
    variants are the audit primitives for event-ledger reconciliation
    (how many purchase events have a matching urgent order, counting
    duplicates); the DISTINCT forms already covered by
    users_intersect_customers / customers_except_users lose exactly
    the multiplicity information this keeps.

    Scale: Spark plans both as a single aggregate-per-side + join on
    the id (count-min / count-subtract), one keyed exchange each — the
    same shape a hand-written groupBy implementation would produce."""
    from pyspark.sql import functions as F

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("id"))
    )
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("id"))
    )
    inter = ev.intersectAll(ords).select(F.lit("intersect").alias("op"), "id")
    exc = ev.exceptAll(ords).select(F.lit("except").alias("op"), "id")
    return inter.unionByName(exc)


_KCORE_K = 18
_KCORE_ITERS = 10


@register(
    "kcore_parts_copurchase",
    f"""
    WITH RECURSIVE base AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    core(it, pa, pb) AS (
      SELECT 0, pa, pb FROM base
      UNION ALL
      SELECT it + 1, pa, pb FROM (
        WITH cur AS (SELECT * FROM core),
        deg AS (SELECT n, count(*) d FROM
                 (SELECT pa n FROM cur UNION ALL SELECT pb FROM cur) GROUP BY n),
        keep AS (SELECT n FROM deg WHERE d >= {_KCORE_K})
        SELECT it, pa, pb FROM cur
        WHERE pa IN (SELECT n FROM keep) AND pb IN (SELECT n FROM keep)
          AND it < {_KCORE_ITERS}
      )
    )
    SELECT pa, pb FROM core WHERE it = {_KCORE_ITERS}
    """,
)
def q_kcore_parts_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """18-core of the (sampled) co-purchase graph (k chosen so the
    fixture actually peels over MULTIPLE rounds to a NONEMPTY fixpoint
    at both checked SFs — k=3 was vacuous on this dense graph, min
    degree 11; k≥22 cascades to empty) — the graph-cleanup
    pass that peels pendant chains and sparse fuzz before cohesion
    analysis, by iterative deletion to fixpoint
    (operators/graphs.py:k_core). The oracle expresses the SAME
    peeling as a fixed-10-iteration recursive CTE (idempotent after
    the fixpoint, so "iterate exactly 10" == "iterate to fixpoint"
    whenever convergence happens within the cap — the engine side
    asserts convergence via its stats out-param in pytest; peeling
    removes every under-k node per round, so 10 rounds is generous
    for any graph whose chains are shorter than 10)."""
    from pyspark.sql import functions as F

    from ..operators.graphs import k_core

    e = copurchase_edges(spark, sf_dir)
    return k_core(e, _KCORE_K, max_iter=_KCORE_ITERS)


_PR_ITERS = 10


@register(
    "pagerank_parts_copurchase",
    f"""
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
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
    e2 AS (
      SELECT s.src, s.dst, d.od
      FROM sym s JOIN (SELECT src, count(*) od FROM sym GROUP BY src) d
        ON d.src = s.src
    ),
    pr(it, node, r) AS (
      SELECT 0, src, CAST(1000000000000 AS BIGINT)
      FROM (SELECT DISTINCT src FROM e2)
      UNION ALL
      SELECT it + 1, dst,
             CAST(150000000000 + (85 * c) // 100 AS BIGINT)
      FROM (
        WITH cur AS (SELECT * FROM pr)
        SELECT e2.dst, max(cur.it) AS it, sum(cur.r // e2.od) AS c
        FROM e2 JOIN cur ON cur.node = e2.src
        WHERE cur.it < {_PR_ITERS}
        GROUP BY e2.dst
      )
    ),
    final AS (SELECT node, r FROM pr WHERE it = {_PR_ITERS})
    SELECT node AS part, r AS rank_fp,
           row_number() OVER (ORDER BY r DESC, node ASC) AS rank
    FROM final QUALIFY rank <= 20
    """,
)
def q_pagerank_parts_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by fixed-point-integer PageRank over the sampled
    co-purchase graph (operators/graphs.py:pagerank_integer, 10
    rounds, damping 0.85, scale 1e12). An ITERATIVE NUMERIC operator
    with a bit-exact DuckDB oracle: float PageRank can't cross engines
    (summation order + libm), but the integer recurrence — r DIV
    outdeg contributions, (85·Σ) DIV 100 damping — is associative and
    floor-exact in both, so the recursive CTE replays every round to
    the digit. The rank_fp VALUE is certified, not just the
    ordering."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..operators.graphs import pagerank_integer

    e = copurchase_edges(spark, sf_dir)
    ranks = pagerank_integer(e, iterations=_PR_ITERS)
    w = Window.orderBy(F.desc("r"), F.asc("node"))
    return (
        ranks.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(F.col("node").alias("part"), F.col("r").alias("rank_fp"), "rank")
    )


@register(
    "exact_substr_spans",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), grams AS (
      SELECT doc_id, i AS p, md5(array_to_string(w[i:i+7], ' ')) AS g
      FROM words, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) t
      WHERE len(w) >= 8
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING count(*) >= 2
    ), cov AS (
      SELECT doc_id, p,
             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      FROM grams WHERE g IN (SELECT g FROM dup)
    ), spans AS (
      SELECT doc_id, min(p) AS start_tok, max(p) + 7 AS end_tok
      FROM cov GROUP BY doc_id, grp
    )
    SELECT doc_id, start_tok, end_tok,
           end_tok - start_tok + 1 AS span_len
    FROM spans WHERE end_tok - start_tok + 1 >= 20
    """,
)
def q_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style maximal duplicated-span dedup (Lee et al.
    2022): every maximal token span of ≥20 tokens whose every 8-token
    window repeats somewhere in the corpus — the removal set
    sub-document span dedup needs but fixed-stride chunking
    (chunk_exact_dedup) misses when a duplicated passage straddles a
    chunk boundary, and winnowing only samples. Occurrences are
    counted, never paired, so a million-fold boilerplate k-gram costs
    linear rows (see operators/dedup.py:max_dup_spans for the full
    scale argument). ~45 spans at sf0.01 / ~477 at sf0.1 on the
    synthetic corpus — the planted-span pytest pins exact
    boundaries."""
    from ..operators.dedup import max_dup_spans

    docs = load_table(spark, sf_dir, "documents")
    return max_dup_spans(docs, seed_k=8, min_len=20)


@register(
    "bloom_prefilter_ingest_dedup",
    """
    WITH existing AS (
      SELECT DISTINCT md5(text) AS dg FROM documents WHERE doc_id % 5 <> 0
    ), words AS (
      SELECT p // 32 AS word_idx,
             bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
      FROM (SELECT ('0x' || substring(md5(dg), 1 + 5*i, 5))::BIGINT AS p
            FROM existing, (SELECT unnest(range(0, 4)) AS i) t)
      GROUP BY 1
    ), incoming AS (
      SELECT doc_id, md5(text) AS dg FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 10000000, md5(text) FROM documents
      WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1
    ), ipos AS (
      SELECT doc_id, dg, ('0x' || substring(md5(dg), 1 + 5*i, 5))::BIGINT AS p
      FROM incoming, (SELECT unnest(range(0, 4)) AS i) t
    ), chk AS (
      SELECT doc_id, dg, count(DISTINCT p) AS need,
             count(DISTINCT CASE WHEN (w.bits
               & (1::BIGINT << CAST(p % 32 AS INT))) <> 0 THEN p END) AS hit
      FROM ipos LEFT JOIN words w ON w.word_idx = p // 32
      GROUP BY doc_id, dg
    )
    SELECT doc_id, hit = need AS maybe_dup,
           dg IN (SELECT dg FROM existing) AS is_dup
    FROM chk
    """,
)
def q_bloom_prefilter_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingest prefilter — the membership sketch completing
    the mergeable family (CMS frequency / HLL distinct / KMV set-ops /
    Bloom membership), in its production role: the existing corpus's
    content digests build a 2^20-bit filter (≤ 32k sparse words,
    broadcastable), and an incoming batch probes it locally so only
    probe-positive rows would continue to the exact verification join.
    incremental_ingest_dedup ships the same nightly-ingest shape as a
    full LEFT ANTI shuffle of every batch digest; this is what makes it
    cheap when dup rates are low. True dups are PLANTED (re-id'd copies
    of existing docs, doc_id+10^7) since the synthetic corpus has no
    exact cross-split duplicates; `is_dup` (exact truth) rides along so
    the output certifies zero false negatives row-by-row against the
    oracle. Positions are md5-hex slices (the portable-HLL recipe) —
    the DuckDB oracle replays every bit."""
    from pyspark.sql import functions as F

    from ..operators.sketches import bloom_build, bloom_probe

    docs = load_table(spark, sf_dir, "documents")
    existing = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5("text").alias("dg"))
        .distinct()
    )
    bloom = bloom_build(existing, "dg")
    planted = docs.filter(
        (F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 == 1)
    ).select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    incoming = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "text")
        .unionByName(planted)
        .select("doc_id", F.md5("text").alias("dg"))
    )
    probed = bloom_probe(bloom, incoming, "dg", out_col="maybe_dup")
    return (
        probed.join(
            existing.withColumn("is_dup", F.lit(True)), "dg", "left"
        )
        .select(
            "doc_id",
            "maybe_dup",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


_SEMDEDUP_K = 8
_SEMDEDUP_CAP = 20


@register(
    "semdedup_cluster_cap",
    f"""
    WITH q AS (
      SELECT vec_id,
        list_transform(embedding::DOUBLE[],
          x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS cid, qv AS cv FROM q
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_SEMDEDUP_K}
    ),
    dists AS (
      SELECT q.vec_id, seeds.cid,
        CAST(list_sum(list_transform(range(1, len(qv) + 1),
          i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS BIGINT) AS dist_q
      FROM q, seeds
    ),
    assigned AS (
      SELECT vec_id, cid, dist_q,
        row_number() OVER (PARTITION BY vec_id ORDER BY dist_q, cid)
          AS arn
      FROM dists
    ),
    kept AS (
      SELECT vec_id, cid, dist_q,
        row_number() OVER (PARTITION BY cid ORDER BY dist_q, vec_id)
          AS krn
      FROM assigned WHERE arn = 1
    )
    SELECT vec_id, cid AS cluster_id, dist_q,
           krn <= {_SEMDEDUP_CAP} AS kept
    FROM kept
    """,
)
def q_semdedup_cluster_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023 shape): assign
    every embedding to its nearest of K=8 md5-chosen seed centroids and
    keep only the CAP=20 closest-to-centroid representatives per
    cluster — the curation move that prunes semantically redundant
    regions of the corpus without any pairwise join. Distances are
    EXACT integers (per-dim floor(x·1000) quantization, then Σδ² over
    64 dims — both engines replay the identical arithmetic; float
    enters nowhere), so assignment, ranking, and the kept flag are all
    deterministic cross-engine. Ties broken (dist, cid) / (dist,
    vec_id).

    Scale shape: seeds are a TakeOrdered-8 collapsed to ONE broadcast
    row holding the centroid array, so assignment is a per-row
    array_min over the K fanout — fully narrow, the corpus never
    shuffles to find its centroid (the IVF assignment shape,
    similarity.py). The ONLY hash exchange in the plan is the
    per-cluster rank — K partitions of ~N/K rows (plan-pinned in
    test_plan_shapes). At 100 TB: K and CAP grow, the shape doesn't;
    a k-means‖ refinement of the seeds slots in where the md5
    selection is."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), "
            "x -> CAST(floor(x * 1000) AS BIGINT))"
        ).alias("qv"),
    )
    seeds = (
        q.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_SEMDEDUP_K)
        .select(F.col("vec_id").alias("cid"), F.col("qv").alias("cv"))
    )
    # one row: the full centroid table as an array — argmin happens
    # per-row inside the codegen'd expression, no join-side fanout rows
    cents = seeds.agg(F.collect_list(F.struct("cid", "cv")).alias("cents"))
    assigned = q.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        F.expr(
            "array_min(transform(cents, c -> struct("
            "aggregate(zip_with(qv, c.cv, (a, b) -> (a - b) * (a - b)), "
            "CAST(0 AS BIGINT), (s, x) -> s + x) AS dist_q, "
            "c.cid AS cid)))"
        ).alias("best"),
    )
    krn = F.row_number().over(
        Window.partitionBy("best.cid").orderBy("best.dist_q", "vec_id")
    )
    return assigned.select(
        "vec_id",
        F.col("best.cid").alias("cluster_id"),
        F.col("best.dist_q").alias("dist_q"),
        (krn <= _SEMDEDUP_CAP).alias("kept"),
    )


def _cluster_histogram_oracle() -> str:
    from .queries import _CC_ORACLE_BODY

    return f"""
    WITH RECURSIVE {_CC_ORACLE_BODY},
    assign AS (SELECT node, MIN(lab) AS cluster FROM reach GROUP BY node),
    cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
           FROM assign GROUP BY cluster),
    h AS (SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
                 CAST(sum(sz) AS BIGINT) AS n_docs
          FROM cs GROUP BY sz),
    single AS (
      SELECT CAST((SELECT count(*) FROM documents)
                  - (SELECT count(*) FROM assign) AS BIGINT) AS n
    )
    SELECT * FROM h
    UNION ALL
    SELECT CAST(1 AS BIGINT), n, n FROM single WHERE n > 0
    """


@register("dedup_cluster_size_histogram", _cluster_histogram_oracle())
def q_dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-health report: the distribution of near-dup cluster sizes
    (n_clusters and doc mass per exact size, singletons included as
    size 1) — the number an operator reads before trusting a dedup
    threshold: a fat tail of giant clusters means boilerplate/spam is
    collapsing unrelated docs; all-singletons means the threshold is
    too tight. Composes the LSH pair-gen + min-label CC assignment and
    aggregates it twice (cluster → size, size → counts); the oracle
    replays components with the recursive CTE (shared _CC_ORACLE_BODY)
    and the same two rollups. Pure integer counts.

    Scale shape: beyond the CC cost itself, two tiny hash aggregates
    (|clusters| rows, then |distinct sizes| rows) and a broadcast
    2-scalar subtraction for the singleton row — report cost is
    negligible next to pair-gen."""
    from pyspark.sql import functions as F

    from ..operators.dedup import connected_components, minhash_near_dups

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    assign = connected_components(minhash_near_dups(docs, threshold=0.5))
    cs = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("sz"))
    h = cs.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").alias("n_docs"),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("t"))
    cl = assign.agg(F.count(F.lit(1)).alias("c"))
    single = (
        tot.crossJoin(F.broadcast(cl))
        .select((F.col("t") - F.col("c")).alias("n"))
        .filter(F.col("n") > 0)
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            F.col("n").alias("n_clusters"),
            F.col("n").alias("n_docs"),
        )
    )
    return h.unionByName(single)


def _leakage_split_oracle() -> str:
    from ..operators.sampling import rate_threshold
    from .queries import _CC_ORACLE_BODY

    t_train = rate_threshold(0.90)
    t_valid = rate_threshold(0.95)
    return f"""
    WITH RECURSIVE {_CC_ORACLE_BODY},
    assign AS (SELECT node, MIN(lab) AS cluster FROM reach GROUP BY node),
    keyed AS (
      SELECT d.doc_id, COALESCE(a.cluster, d.doc_id) AS grp_key
      FROM documents d LEFT JOIN assign a ON a.node = d.doc_id
    )
    SELECT doc_id, CAST(grp_key AS BIGINT) AS grp_key,
      CASE WHEN substr(md5(CAST(grp_key AS VARCHAR)), 1, 8) < '{t_train}'
             THEN 'train'
           WHEN substr(md5(CAST(grp_key AS VARCHAR)), 1, 8) < '{t_valid}'
             THEN 'valid'
           ELSE 'test' END AS split
    FROM keyed
    """


@register("leakage_safe_split", _leakage_split_oracle())
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split (90/5/5): near-dup documents
    must NEVER straddle a split boundary (a test doc with a train-side
    near-duplicate inflates eval), so the split key is the near-dup
    CLUSTER label (min-doc_id from LSH pair-gen + CC; singletons key on
    their own doc_id) and the assignment is the md5-prefix threshold on
    that key — same grouped-hash-split recipe every eval-hygiene paper
    prescribes, deterministic and replayable by the oracle's recursive
    CTE + the identical md5 thresholds.

    Scale shape: the CC cost dominates (same bounded shape as
    dedup_cluster_assignment); after that it's one key-partitioned LEFT
    join of assignments onto the doc list (at 100 TB both sides hash on
    doc_id) and a NARROW md5 + two string compares per row — the split
    itself adds no shuffle. Realized fractions converge to 90/5/5 over
    the 32-bit hash space at corpus scale."""
    from pyspark.sql import functions as F

    from ..operators.dedup import connected_components, minhash_near_dups
    from ..operators.sampling import grouped_split

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    assign = connected_components(minhash_near_dups(docs, threshold=0.5))
    keyed = (
        docs.select("doc_id")
        .join(assign.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster", "doc_id").cast("long").alias("grp_key"),
        )
    )
    out = grouped_split(
        keyed, [("train", 0.90), ("valid", 0.05), ("test", 0.05)], "grp_key"
    )
    return out.select("doc_id", "grp_key", "split")


@register(
    "bfs_hops_copurchase",
    """
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT pa AS src, pb AS dst FROM e0 UNION ALL SELECT pb, pa FROM e0),
    nodes AS (SELECT DISTINCT src AS n FROM e),
    walk(node, hop) AS (
      SELECT n, 0 FROM nodes WHERE substr(md5(CAST(n AS VARCHAR)), 3, 1) = '0'
      UNION
      SELECT e.dst, w.hop + 1 FROM walk w JOIN e ON e.src = w.node
      WHERE w.hop < 3
    ),
    dist AS (SELECT node, MIN(hop) AS hop FROM walk GROUP BY node)
    SELECT n AS part, CAST(COALESCE(d.hop, -1) AS BIGINT) AS hop
    FROM nodes LEFT JOIN dist d ON d.node = n
    """,
)
def q_bfs_hops_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS blast radius on the co-purchase graph: hop
    distance (≤ 3, unreached = -1) from a deterministic 1/16 md5 seed
    set to every node — the seed-expansion primitive (labeled-seed
    recall expansion, contamination spread from flagged domains). Same
    4/16-sampled parts graph as the triangle/k-core/PageRank queries
    so the whole graph family certifies one edge construction.

    Spark side is operators/graphs.py:bfs_hops — frontier-only
    expansion with an anti-join against the visited set (each node
    expanded exactly ONCE ever; per-round cost tracks newly-reached
    nodes, not |V|), localCheckpoint per round, one scalar per round
    to the driver. The oracle replays it as a depth-bounded recursive
    CTE with UNION dedup and per-node MIN(hop). Integers end-to-end;
    termination is structural (hop cap), not data-dependent."""
    from pyspark.sql import functions as F

    from ..operators.graphs import bfs_hops

    e = copurchase_edges(spark, sf_dir)
    nodes = (
        e.select(F.col("pa").alias("n"))
        .unionByName(e.select(F.col("pb").alias("n")))
        .distinct()
    )
    seeds = nodes.filter(
        F.substring(F.md5(F.col("n").cast("string")), 3, 1) == "0"
    )
    dist = bfs_hops(e, seeds, max_hops=3)
    return nodes.join(
        dist.withColumnRenamed("node", "n"), "n", "left"
    ).select(
        F.col("n").alias("part"),
        F.coalesce("hop", F.lit(-1)).cast("long").alias("hop"),
    )


_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    base = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    e AS (SELECT pa AS src, pb AS dst FROM e0 UNION ALL SELECT pb, pa FROM e0),
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e)"""
    step = """,
    l{n} AS (
      SELECT node, lab FROM (
        SELECT e.dst AS node, p.lab,
               row_number() OVER (PARTITION BY e.dst
                                  ORDER BY count(*) DESC, p.lab ASC) AS rn
        FROM e JOIN l{p} p ON p.node = e.src
        GROUP BY e.dst, p.lab
      ) WHERE rn = 1
    )"""
    body = "".join(
        step.format(n=i, p=i - 1) for i in range(1, _LPA_ROUNDS + 1)
    )
    return (
        base
        + body
        + f"\n    SELECT node AS part, lab AS community FROM l{_LPA_ROUNDS}"
    )


@register("lpa_communities_copurchase", _lpa_oracle())
def q_lpa_communities_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the co-purchase graph via DETERMINISTIC
    synchronous label propagation (4 rounds; most-frequent neighbor
    label, ties → min) — the assortment-segmentation view the cohesion
    family lacked: CC says "connected", triangles/k-core say "dense",
    LPA says "which cluster". Same 4/16-sampled parts graph as the
    rest of the graph family.

    Spark side is operators/graphs.py:label_propagation — per round one
    labels ⋈ edges hash join, a (node, label) count aggregate with
    map-side partials, and a per-node argmax as max(struct(count,
    -label)) (an aggregate, never a corpus-wide window), with
    localCheckpoint round discipline and ZERO driver round-trips (the
    round count is structural). The oracle unrolls the 4 rounds as
    chained CTEs with row_number argmax — bit-replayable because the
    tie-break makes every round a pure function of the last."""
    from pyspark.sql import functions as F

    from ..operators.graphs import label_propagation

    e = copurchase_edges(spark, sf_dir)
    return label_propagation(e, rounds=_LPA_ROUNDS).select(
        F.col("node").alias("part"), F.col("lab").alias("community")
    )


@register(
    "symdelete_ed1_pairs",
    """
    WITH n AS (SELECT DISTINCT c_name FROM customer)
    SELECT a.c_name AS name_a, b.c_name AS name_b,
      CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_distance
    FROM n a JOIN n b
      ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_symdelete_ed1_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance-1 similarity self-join via deletion
    neighborhoods (the SymSpell/SymDelete construction): every name
    pair within Levenshtein distance 1, WITHOUT the all-pairs cross
    join the oracle uses. Entity-resolution primitive for typo-linked
    identifiers (the fixture's sequential Customer#... names differ in
    single digits, yielding a dense non-vacuous pair set).

    Construction: each name emits itself + its |s| single-character
    deletions; ed(x,y) ≤ 1 ⟹ x and y share a variant (equal strings,
    one is the other's deletion, or deleting the substituted position
    from both gives the same string), so the variant equi-join is a
    LOSSLESS candidate generator. It over-generates (e.g. transposed
    neighbors share variants at ed 2), so candidates are verified with
    one levenshtein() call per pair — exactness is unconditional, like
    the prefix-filter Jaccard join.

    Scale shape: |s|+1 variant rows per name (a linear blowup, not
    quadratic), one hash equi-join on the variant key with fan-out
    bounded per bucket by the variant's collision set, distinct on the
    pair, then the cheap verify filter. No CartesianProduct anywhere —
    the oracle's brute-force O(n²) levenshtein join is exactly what
    this construction avoids at 100 TB."""
    from pyspark.sql import functions as F

    names = (
        load_table(spark, sf_dir, "customer").select("c_name").distinct()
    )
    # repartition on the variant key and forbid broadcast: the small
    # post-distinct name table otherwise broadcasts and the whole
    # explode+join+verify pipeline runs inside the ONE scan partition
    # (measured 12.5 s → 3.5 s at sf0.1); at cluster scale the keyed
    # exchange is what distributes the candidate generation anyway.
    variants = names.select(
        F.col("c_name"),
        F.explode(
            F.expr(
                "concat(array(c_name), transform(sequence(1, length(c_name)),"
                " i -> concat(substring(c_name, 1, i - 1),"
                " substring(c_name, i + 1, length(c_name)))))"
            )
        ).alias("v"),
    ).repartition("v")
    cand = (
        variants.alias("a")
        .join(
            variants.alias("b").hint("shuffle_hash"),
            (F.col("a.v") == F.col("b.v"))
            & (F.col("a.c_name") < F.col("b.c_name")),
        )
        .select(
            F.col("a.c_name").alias("name_a"), F.col("b.c_name").alias("name_b")
        )
        .distinct()
    )
    return cand.filter(
        F.levenshtein("name_a", "name_b") <= 1
    ).select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("long").alias("edit_distance"),
    )


def _triplets_oracle() -> str:
    from .queries import _CC_ORACLE_BODY

    return f"""
    WITH RECURSIVE {_CC_ORACLE_BODY},
    assign AS (SELECT node, MIN(lab) AS cluster FROM reach GROUP BY node),
    anchors AS (
      SELECT a.node AS anchor_id, MIN(b.node) AS positive_id, a.cluster
      FROM assign a JOIN assign b
        ON b.cluster = a.cluster AND b.node <> a.node
      GROUP BY a.node, a.cluster
    ),
    pool AS (
      SELECT d.doc_id AS cand_id,
             substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) AS bk,
             COALESCE(s.cluster, d.doc_id) AS cand_cluster
      FROM documents d LEFT JOIN assign s ON s.node = d.doc_id
    ),
    cand AS (
      SELECT a.anchor_id, a.positive_id, p.cand_id,
        row_number() OVER (PARTITION BY a.anchor_id
          ORDER BY md5(CAST(a.anchor_id AS VARCHAR) || ':'
                       || CAST(p.cand_id AS VARCHAR)), p.cand_id) AS rk
      FROM anchors a JOIN pool p
        ON p.bk = substr(md5(CAST(a.anchor_id AS VARCHAR)), 1, 1)
       AND p.cand_cluster <> a.cluster
    )
    SELECT anchor_id, positive_id, cand_id AS negative_id,
           CAST(rk AS BIGINT) AS rank
    FROM cand WHERE rk <= 2
    """


@register("contrastive_triplets", _triplets_oracle())
def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet generator: (anchor, positive, 2
    hard-ish negatives) for embedding-model training. Positives come
    from the near-dup CLUSTER (LSH + CC — the same machinery the dedup
    family certifies; positive = smallest other member, deterministic);
    negatives are a reproducible pseudo-random draw — the corpus is
    md5-bucketed (16 buckets here), each anchor draws from ITS OWN
    bucket, ranked by md5(anchor:candidate) with same-cluster
    candidates excluded, top-2. Every choice is a pure hash function:
    retries, speculative tasks, and the oracle replay all emit the
    identical triplet table.

    Scale shape: anchors = one self-join of the (tiny) cluster
    assignment; the negative draw joins anchors to a 1/B corpus slice
    on the bucket key (hash equi-join) and ranks per anchor — window
    partitions are bounded by the bucket size, corpus/B. B is a RATE
    knob: scale it with the corpus (B ≈ corpus/10k) so the per-anchor
    pool stays bench-sized — same rate-not-absolute rule as the graph
    sample. At 100 TB the pool join is the only wide edge and it
    carries (id, bucket, cluster) triples, never text."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..operators.dedup import connected_components, minhash_near_dups

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    assign = connected_components(minhash_near_dups(docs, threshold=0.5))
    a2 = assign.select(
        F.col("node").alias("b_node"), F.col("cluster").alias("b_cluster")
    )
    anchors = (
        assign.join(
            a2,
            (F.col("b_cluster") == F.col("cluster"))
            & (F.col("b_node") != F.col("node")),
        )
        .groupBy(F.col("node").alias("anchor_id"), "cluster")
        .agg(F.min("b_node").alias("positive_id"))
        .withColumn(
            "abk", F.substring(F.md5(F.col("anchor_id").cast("string")), 1, 1)
        )
    )
    pool = (
        docs.select("doc_id")
        .join(assign.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            F.col("doc_id").alias("cand_id"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias(
                "bk"
            ),
            F.coalesce("cluster", "doc_id").alias("cand_cluster"),
        )
    )
    cand = anchors.join(
        pool,
        (F.col("bk") == F.col("abk"))
        & (F.col("cand_cluster") != F.col("cluster")),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.md5(
            F.concat(
                F.col("anchor_id").cast("string"),
                F.lit(":"),
                F.col("cand_id").cast("string"),
            )
        ),
        "cand_id",
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select(
            "anchor_id",
            "positive_id",
            F.col("cand_id").alias("negative_id"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


@register(
    "cross_source_contamination",
    f"""
    WITH sets AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
          ELSE list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')) END) AS sset
      FROM documents
    ), sizes AS (SELECT doc_id, len(sset) AS sz FROM sets),
    ex AS (SELECT doc_id, unnest(sset) AS sh FROM sets),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM ex a JOIN ex b ON a.sh = b.sh AND b.doc_id > a.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN da.source <> db.source THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cross
    FROM pairs JOIN documents da ON da.doc_id = doc_a
               JOIN documents db ON db.doc_id = doc_b
    GROUP BY 1, 2
    """,
)
def q_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: near-dup pair counts per
    (source, source) cell — the decontamination view that says WHICH
    feeds re-publish each other's content (cross-source near-dups are
    how benchmark answers leak into training corpora and how one
    crawl's boilerplate double-counts through another). Canonical
    least/greatest cell keys; n_cross isolates the cross-source rows
    from within-source duplication.

    Composes the certified LSH pair-gen (dedup_minhash_lsh) with two
    doc→source hash joins and a |source-pair| aggregate — pair volume,
    already bounded by the LSH threshold, is the only wide data; the
    oracle replays with exact all-pairs Jaccard (the lossless
    equivalence the setsim query certifies)."""
    from pyspark.sql import functions as F

    from ..operators.dedup import minhash_near_dups

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    pairs = minhash_near_dups(docs, threshold=0.5).select("doc_a", "doc_b")
    src = docs.select("doc_id", "source")
    j = pairs.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
        "doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
        "doc_b",
    )
    return (
        j.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("sa") != F.col("sb"), 1).otherwise(0))
            .cast("long")
            .alias("n_cross"),
        )
    )


@register(
    "link_prediction_scores",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    ),
    e AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    sym AS (
      SELECT pa AS u, pb AS v FROM e
      UNION ALL SELECT pb, pa FROM e
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
    okz AS (SELECT u, d FROM deg WHERE d <= 48),
    wedge AS (
      SELECT s1.u AS a, s2.v AS b, s1.v AS z, okz.d AS dz
      FROM sym s1
      JOIN okz ON okz.u = s1.v
      JOIN sym s2 ON s1.v = s2.u AND s1.u < s2.v
    ),
    cand AS (
      SELECT w.a, w.b,
        CAST(count(*) AS BIGINT) AS common_neighbors,
        CAST(sum(1000000000000 // w.dz) AS BIGINT) AS ra_fp,
        round(sum(CAST(floor(1000000000.0 / ln(w.dz)) AS BIGINT)) / 1e9,
              6) AS adamic_adar
      FROM wedge w
      GROUP BY w.a, w.b
    ),
    nonedge AS (
      SELECT c.* FROM cand c
      ANTI JOIN e ON e.pa = c.a AND e.pb = c.b
    ),
    scored AS (
      SELECT n.a AS part_a, n.b AS part_b, n.common_neighbors,
        n.ra_fp, n.adamic_adar,
        round(CAST(n.common_neighbors AS DOUBLE)
              / (da.d + db.d - n.common_neighbors), 6) AS jaccard,
        CAST(da.d * db.d AS BIGINT) AS pref_attach
      FROM nonedge n
      JOIN deg da ON da.u = n.a
      JOIN deg db ON db.u = n.b
    )
    SELECT *, CAST(row_number() OVER (
        ORDER BY ra_fp DESC, common_neighbors DESC, part_a, part_b
      ) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 20
    """,
)
def q_link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase graph: for every NON-edge
    pair at distance 2, the four classic neighborhood scores — common
    neighbors, Jaccard, resource allocation (Σ 1/deg z), preferential
    attachment — ranked to a top-20 recommendation list ("parts bought
    together by association, not yet co-bought"). The ranking key is
    the resource-allocation index in FIXED-POINT: Σ (10^12 div deg z)
    is a pure-integer sum (both engines' integer division), so the
    top-20 cut is bit-deterministic across engines and partitionings;
    Adamic-Adar is likewise quantized per-term (floor(1e9/ln deg) as
    BIGINT) before summing, making that column an associative integer
    sum too (a wedge center always has deg ≥ 2, so ln > 0).

    Scale shape: same md5 4/16 node sample as the triangle/k-core
    family (rate-based, SF-stable density). Wedges are generated from
    the symmetric edge list with a SUPER-HUB CAP (r7): only centers z
    with deg(z) ≤ 48 generate wedges, bounding the per-center fan-out
    to 48² pairs — the Σ deg(z)² hub-quadratic every neighborhood
    method pays becomes O(|V|·K²), and the dropped centers are exactly
    the ones whose 1/deg contribution is smallest. The degree join now
    happens BEFORE wedge expansion (on |sym| rows, not |wedge| rows),
    which also removes a post-explosion join. Candidate scoring is one
    (a,b) hash aggregate; the anti-join against existing edges and the
    two degree joins run on the candidate table (≤ wedge groups), and
    the top-20 cut is orderBy().limit() — TakeOrderedAndProject
    (per-partition heaps, plan-pinned), so the only no-partition rank
    window in the plan runs on exactly 20 rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    e = copurchase_edges(spark, sf_dir)
    sym = e.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionAll(
        e.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    # r12: the per-term RA/AA quantizations are functions of the CENTER
    # only — computed here on |centers| rows instead of per wedge row
    # (the old form evaluated log() + the fixed-point div once per
    # wedge, the largest row count in the query); the summed per-term
    # values are identical, so every score is bit-identical
    # d >= 2 (r12 ADVICE): a degree-1 center can never produce a wedge
    # (s1.u < s2.v needs two distinct neighbors), but its aa_term would
    # be 1e9/log(1) = +Inf → Long.MaxValue garbage sitting latent in okz
    # — filter it out so the row never exists. Bit-identical output.
    okz = deg.filter(
        (F.col("d") >= 2) & (F.col("d") <= WEDGE_CENTER_DEG_CAP)
    ).select(
        F.col("u").alias("z"),
        F.expr("1000000000000L div d").alias("ra_term"),
        F.floor(F.lit(1000000000.0) / F.log("d")).cast("bigint").alias("aa_term"),
    )
    wedge = (
        sym.alias("s1")
        .join(okz, F.col("s1.v") == F.col("z"))
        .join(sym.alias("s2"), F.col("s1.v") == F.col("s2.u"))
        .filter(F.col("s1.u") < F.col("s2.v"))
        .select(
            F.col("s1.u").alias("a"),
            F.col("s2.v").alias("b"),
            "ra_term",
            "aa_term",
        )
    )
    cand = (
        wedge.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum("ra_term").cast("long").alias("ra_fp"),
            F.round(F.sum("aa_term") / F.lit(1e9), 6).alias("adamic_adar"),
        )
    )
    nonedge = cand.join(
        e,
        (F.col("a") == F.col("pa")) & (F.col("b") == F.col("pb")),
        "left_anti",
    )
    scored = (
        nonedge.join(
            deg.select(F.col("u").alias("a"), F.col("d").alias("da")), "a"
        )
        .join(deg.select(F.col("u").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "common_neighbors",
            "ra_fp",
            "adamic_adar",
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("da") + F.col("db") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
            (F.col("da") * F.col("db")).cast("long").alias("pref_attach"),
        )
    )
    # top-20 via orderBy().limit() — TakeOrderedAndProject, so the rank
    # window runs on exactly 20 rows, never the full candidate set
    top = scored.orderBy(
        F.desc("ra_fp"), F.desc("common_neighbors"), "part_a", "part_b"
    ).limit(20)
    w = Window.orderBy(
        F.desc("ra_fp"), F.desc("common_neighbors"), "part_a", "part_b"
    )
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


@register(
    "degree_assortativity_copurchase",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
    ),
    e AS (
      SELECT DISTINCT a.l_partkey pa, b.l_partkey pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT pa AS node FROM e UNION ALL SELECT pb FROM e
      ) GROUP BY node
    ),
    ej AS (
      SELECT da.d AS j, db.d AS k
      FROM e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
        CAST(sum(CAST(j AS HUGEINT) * k) AS HUGEINT) AS sjk,
        CAST(sum(CAST(j AS HUGEINT) + k) AS HUGEINT) AS sj,
        CAST(sum(CAST(j AS HUGEINT) * j + CAST(k AS HUGEINT) * k)
             AS HUGEINT) AS sj2
      FROM ej
    ),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT nv.n_nodes, s.m AS n_edges,
      round(
        (CAST(CAST(2 * s.m * 2 * s.sjk - s.sj * s.sj AS VARCHAR) AS DOUBLE))
        / (CAST(CAST(2 * s.m * s.sj2 - s.sj * s.sj AS VARCHAR) AS DOUBLE)),
        6) AS assortativity
    FROM s, nv
    """,
)
def q_degree_assortativity_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newman degree assortativity of the co-purchase graph — the
    Pearson correlation of endpoint degrees over edges (positive:
    hubs link to hubs; negative: hub-and-spoke). The one global
    mixing statistic the graph family (triangles, clustering
    coefficient, k-core, power-law MLE) still lacked: it tells a
    sampler whether degree-stratified negatives are needed. Same
    deterministic 4/16 md5 node sample as triangle_parts_copurchase,
    so all graph queries certify the same graph.

    Exactness: with both edge orientations as stubs, Σj = Σk and
    Σj² = Σk², so r = (M'·Σjk − S²)/(M'·Σj² − S²) with M' = 2M,
    Σjk/Σj²/S folded from the undirected edge list as exact integer
    sums (DECIMAL(38,0) — S² ~1e20 overflows BIGINT); the two exact
    integers cross to double via STRING (decimal→double two-rounding
    trap) for ONE final division, round-6.

    Scale shape: degree agg (|V| rows) broadcast-joins back onto the
    edge list twice, then one reduce — no windows, no self-join beyond
    the shared co-purchase edge build."""
    from pyspark.sql import functions as F

    e = copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    ej = (
        e.join(F.broadcast(da), F.col("da.node") == F.col("pa"))
        .join(F.broadcast(db), F.col("db.node") == F.col("pb"))
        .select(F.col("da.d").alias("j"), F.col("db.d").alias("k"))
    )
    jd = F.col("j").cast("decimal(38,0)")
    kd = F.col("k").cast("decimal(38,0)")
    s = ej.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(jd * F.col("k")).alias("sjk"),
        F.sum(jd + F.col("k")).alias("sj"),
        F.sum(jd * F.col("j") + kd * F.col("k")).alias("sj2"),
    )
    nv = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    num = F.expr(
        "CAST(CAST(2 * m * 2 * sjk - sj * sj AS STRING) AS DOUBLE)"
    )
    den = F.expr(
        "CAST(CAST(2 * m * sj2 - sj * sj AS STRING) AS DOUBLE)"
    )
    return s.crossJoin(F.broadcast(nv)).select(
        "n_nodes",
        F.col("m").alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


def _semantic_dedup_oracle() -> str:
    """Full DuckDB replica of operators.dedup.semantic_dedup on the
    planted-copy corpus: the same jittered copies, the same
    hyperplane-sign cells (blake2b literal weights), the same int8
    quantization and integer cross-multiplied cosine threshold, and
    true connected components via a recursive CTE."""
    from .queries import _emb_bucket_sql

    cell = _emb_bucket_sql("v", n_planes=4)
    return f"""
    WITH RECURSIVE base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    corpus AS (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + 10000000,
        list_concat([v[1] + 0.001 * (CAST(vec_id % 5 AS DOUBLE) - 2.0)],
                    v[2:])
      FROM base WHERE vec_id % 9 = 4
      UNION ALL
      SELECT vec_id + 20000000, list_concat([v[1] + 0.0007], v[2:])
      FROM base WHERE vec_id % 18 = 4
    ),
    cells AS (SELECT vec_id, v, {cell} AS cell FROM corpus),
    scaled AS (
      SELECT vec_id, cell, v,
        greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0
          AS s
      FROM cells
    ),
    codes AS (
      SELECT vec_id, cell,
        list_transform(v, x -> CAST(floor(x / s + 0.5) AS INT)) AS q
      FROM scaled
    ),
    normed AS (
      SELECT vec_id, cell, q,
        CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x))
             AS BIGINT) AS n2
      FROM codes
    ),
    cand AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
        CAST(list_sum(list_transform(generate_series(1, len(a.q)),
          i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) AS qdot,
        a.n2 AS n2a, b.n2 AS n2b
      FROM normed a JOIN normed b
        ON a.cell = b.cell AND b.vec_id > a.vec_id
    ),
    e0 AS (
      SELECT ia, ib FROM cand
      WHERE qdot > 0
        AND 1000000 * qdot * qdot >= 810000 * n2a * n2b
    ),
    edges AS (SELECT ia AS a, ib AS b FROM e0
              UNION ALL SELECT ib, ia FROM e0),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    assign AS (SELECT node, MIN(lab) AS cluster FROM reach GROUP BY node)
    SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell,
      COALESCE(a.cluster, c.vec_id) AS cluster,
      COALESCE(a.cluster, c.vec_id) = c.vec_id AS kept
    FROM cells c LEFT JOIN assign a ON a.node = c.vec_id
    """


@register("dedup_semantic_embedding", _semantic_dedup_oracle())
def q_dedup_semantic_embedding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup-style EMBEDDING-space dedup end-to-end (VERDICT r9 §4):
    cell-bucketed int8-quantized-cosine near-dup edges consolidated by
    connected components, keep-min-per-cluster. Complements
    semdedup_cluster_cap (which caps cluster size without pairwise
    scoring): this is the variant that actually identifies WHICH items
    are mutual near-duplicates. The synthetic embeddings have no
    natural pairs at cos ≥ 0.9 (measured max ≈ 0.46), so near-dups are
    PLANTED — deterministic jittered copies at vec_id+1e7 (every 9th)
    and +2e7 (every 18th), giving 2- and 3-member clusters whose
    keep-one resolution the oracle certifies row-by-row.

    Exactness: threshold via integer cross-multiplication (see
    operators/dedup.semantic_dedup — dimension-bounded int64, corpus-
    size-independent); cells/quantization replayed verbatim by the
    oracle; CC equality certifies the 6-round min-label fixpoint
    against true recursive-CTE components."""
    from pyspark.sql import functions as F

    from ..operators.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    jitter1 = F.expr(
        "concat(array(v[0] + 0.001 * (CAST(vec_id % 5 AS DOUBLE) - 2.0D)), "
        "slice(v, 2, size(v) - 1))"
    )
    jitter2 = F.expr(
        "concat(array(v[0] + 0.0007D), slice(v, 2, size(v) - 1))"
    )
    corpus = (
        base.unionByName(
            base.filter(F.col("vec_id") % 9 == 4).select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"),
                jitter1.alias("v"),
            )
        )
        .unionByName(
            base.filter(F.col("vec_id") % 18 == 4).select(
                (F.col("vec_id") + 20_000_000).alias("vec_id"),
                jitter2.alias("v"),
            )
        )
    )
    return semantic_dedup(corpus, n_planes=4, threshold_milli=900)


def _semantic_codes_sql(src: str, out: str) -> str:
    """DuckDB CTE fragment replicating operators.dedup.semantic_index
    on CTE `src`(vec_id, v) into `out`(vec_id, cell, q, n2) — the same
    blake2b hyperplane cells, int8 quantization, and exact squared
    norm as the Spark side."""
    from .queries import _emb_bucket_sql

    cell = _emb_bucket_sql("v", n_planes=4)
    return f"""{out}_cells AS (
      SELECT vec_id, v, {cell} AS cell FROM {src}
    ),
    {out}_scaled AS (
      SELECT vec_id, cell, v,
        greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0
          AS s
      FROM {out}_cells
    ),
    {out}_codes AS (
      SELECT vec_id, cell,
        list_transform(v, x -> CAST(floor(x / s + 0.5) AS INT)) AS q
      FROM {out}_scaled
    ),
    {out} AS (
      SELECT vec_id, cell, q,
        CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x))
             AS BIGINT) AS n2
      FROM {out}_codes
    )"""


def _incremental_semantic_oracle() -> str:
    """Batch×corpus replica of incremental_semantic_dedup: the corpus
    index and the batch codes are built with the SAME cell/quantize
    fragments, candidates are the cell equi-join of batch against
    corpus ONLY (never corpus×corpus), and per-batch-row consolidation
    is MIN matching corpus id."""
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    batch AS (
      SELECT vec_id + 10000000 AS vec_id,
        list_concat([v[1] + 0.001 * (CAST(vec_id % 5 AS DOUBLE) - 2.0)],
                    v[2:]) AS v
      FROM base WHERE vec_id % 9 = 4
      UNION ALL
      SELECT vec_id + 20000000, list_concat(v[2:], [v[1]])
      FROM base WHERE vec_id % 18 = 4
    ),
    {_semantic_codes_sql("base", "cnorm")},
    {_semantic_codes_sql("batch", "bnorm")},
    m AS (
      SELECT b.vec_id AS bid, MIN(a.vec_id) AS dup_of,
        CAST(count(*) AS BIGINT) AS n_matches
      FROM bnorm b JOIN cnorm a ON a.cell = b.cell
      WHERE CAST(list_sum(list_transform(generate_series(1, len(a.q)),
          i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) > 0
        AND 1000000
          * CAST(list_sum(list_transform(generate_series(1, len(a.q)),
              i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT)
          * CAST(list_sum(list_transform(generate_series(1, len(a.q)),
              i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT)
          >= 810000 * a.n2 * b.n2
      GROUP BY b.vec_id
    )
    SELECT b.vec_id, CAST(b.cell AS BIGINT) AS cell, m.dup_of,
      COALESCE(m.n_matches, CAST(0 AS BIGINT)) AS n_matches,
      m.dup_of IS NULL AS kept
    FROM bnorm b LEFT JOIN m ON m.bid = b.vec_id
    """


@register("incremental_semantic_dedup", _incremental_semantic_oracle())
def q_incremental_semantic_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental/streaming embedding dedup (VERDICT r10 #5): the
    corpus's `semantic_index` (cells + int8 codes + norms) is built
    ONCE; an arriving batch — planted jittered near-dups of every 9th
    corpus vector (+1e7, must match) mixed with cyclic-dim-shifted
    decoys of every 18th (+2e7, decorrelated: natural max cosine
    ≈ 0.46 ≪ 0.9, must NOT match) — quantizes only itself and probes
    the index by cell equi-join. This is the production continuous-
    ingest shape at 100 TB: corpus-side work is zero per batch, and
    candidates are |batch|·(per-cell density), never corpus×corpus.

    Exactness: identical cell/quantization replica in the oracle
    (blake2b literal plane weights), the divisionless int64 cosine
    threshold, MIN-corpus-id consolidation; kept = no corpus match.

    Scale shape: one scan of the batch + a cell equi-join against the
    prebuilt (persistable, cell-partitionable) index; the planted
    decoys certify the REJECT path and the jitters the MATCH path, so
    neither flag column is vacuous."""
    from pyspark.sql import functions as F

    from ..operators.dedup import incremental_semantic_dedup, semantic_index

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    jitter1 = F.expr(
        "concat(array(v[0] + 0.001 * (CAST(vec_id % 5 AS DOUBLE) - 2.0D)), "
        "slice(v, 2, size(v) - 1))"
    )
    shift1 = F.expr("concat(slice(v, 2, size(v) - 1), array(v[0]))")
    batch = base.filter(F.col("vec_id") % 9 == 4).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        jitter1.alias("v"),
    ).unionByName(
        base.filter(F.col("vec_id") % 18 == 4).select(
            (F.col("vec_id") + 20_000_000).alias("vec_id"),
            shift1.alias("v"),
        )
    )
    index = semantic_index(base, n_planes=4)
    return incremental_semantic_dedup(
        index, batch, n_planes=4, threshold_milli=900
    )


_PACK_BUDGET = 256
_PACK_SHARDS = 32

#: recursive-CTE replica of operators.packing.sequence_pack_nextfit:
#: rows numbered rn=1..n per shard in pinned doc_id order; each
#: recursion step advances EVERY shard by one row carrying the
#: (window_id, acc) next-fit state — the sequential recurrence SQL
#: can't window but CAN recurse (the reach-CTE discipline applied to
#: greedy state; r9's unrolled-CTE recipe generalized to data-length
#: chains). Terminates when no shard has rn+1.
_SEQ_PACK_BODY = f"""d AS (
      SELECT CAST(doc_id % {_PACK_SHARDS} AS BIGINT) AS shard, doc_id,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        least(CAST(len(string_split(text, ' ')) AS BIGINT),
              {_PACK_BUDGET}) AS elen,
        row_number() OVER (PARTITION BY doc_id % {_PACK_SHARDS}
                           ORDER BY doc_id) AS rn
      FROM documents
    ),
    pk(shard, doc_id, n_tokens, elen, rn, window_id, acc) AS (
      SELECT shard, doc_id, n_tokens, elen, rn,
        CAST(1 AS BIGINT), elen
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.doc_id, d.n_tokens, d.elen, d.rn,
        CASE WHEN pk.acc + d.elen <= {_PACK_BUDGET}
             THEN pk.window_id ELSE pk.window_id + 1 END,
        CASE WHEN pk.acc + d.elen <= {_PACK_BUDGET}
             THEN pk.acc + d.elen ELSE d.elen END
      FROM pk JOIN d ON d.shard = pk.shard AND d.rn = pk.rn + 1
    )"""


@register(
    "sequence_pack_nextfit",
    f"""
    WITH RECURSIVE {_SEQ_PACK_BODY}
    SELECT shard, doc_id, n_tokens, elen, window_id,
      acc - elen AS off
    FROM pk
    """,
)
def q_sequence_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-STRADDLE sequence packing (VERDICT r9 §5): every document
    placed whole into exactly one fixed 256-token window, next-fit in
    pinned doc_id order within 32 hash shards — the training-data
    serialization step when examples must not cross attention
    boundaries (pack_shards_token_budget is the straddle/chunk twin).
    Spark side runs the sequential recurrence inside ONE Arrow-batched
    applyInPandas per shard (parallelism = shards, state = one
    (acc, window) pair); the oracle replays it with a recursive CTE
    stepping every shard one row per iteration. Exact integers
    end-to-end; invariants (each doc exactly once, no window over
    budget, offsets tile) pinned in tests/test_scale_patterns.py."""
    from ..operators.packing import sequence_pack_nextfit

    docs = load_table(spark, sf_dir, "documents")
    return sequence_pack_nextfit(
        docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )


@register(
    "sequence_pack_fill_report",
    f"""
    WITH RECURSIVE {_SEQ_PACK_BODY}
    SELECT shard, window_id,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(elen) AS BIGINT) AS used,
      CAST({_PACK_BUDGET} - sum(elen) AS BIGINT) AS waste,
      CAST(sum(elen) * 1000 // {_PACK_BUDGET} AS BIGINT) AS fill_milli
    FROM pk GROUP BY shard, window_id
    """,
)
def q_sequence_pack_fill_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-window fill/waste accounting over sequence_pack_nextfit —
    the exact efficiency metric a packing-budget sweep optimizes
    (integer milli-fill, no float division). One extra hash agg over
    the packed assignment; corpus is touched once by the packing
    itself."""
    from ..operators.packing import (
        packing_fill_report,
        sequence_pack_nextfit,
    )

    docs = load_table(spark, sf_dir, "documents")
    packed = sequence_pack_nextfit(
        docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )
    return packing_fill_report(packed, budget=_PACK_BUDGET)
