"""TPC-H-shaped OLAP wave: the decision-support query patterns a team
running the reference's risk pipeline (SURVEY.md §3) against a warehouse
would reach for next. Q1/Q3/Q5 live in `plans.queries`; this module adds
every remaining shape the driver's TPC-H-ish tables can express — semi-join
existence counts (Q4), single-scan filter aggregates (Q6), nation-pair
volume matrices (Q7), deep star joins with conditional shares (Q8),
top-k reports (Q10), outer-join histograms (Q13), broadcast-dim ratios
(Q14), scalar-max view queries (Q15), distinct-aggs (Q16), decorrelated
per-group averages (Q17), group-filter-rejoin (Q18), disjunctive
predicate pushdown (Q19), anti-join opportunity reports (Q22) — 17 of
the 22 TPC-H queries in all; Q2/Q9/Q11/Q20/Q21 need partsupp /
l_shipmode / l_commitdate / comment columns TESTDATA.md doesn't ship.
Each query is adapted to the available columns (noted per docstring).

Also here: the LLM-pipeline third wave — md5-threshold and temperature
mixture samplers, the reproducible global shuffle order, sub-document
span dedup, and the ANSI try_* safety surface.

Every query follows the repo's oracle-parity recipes: DECIMAL-exact money
arithmetic surfaced as DOUBLE (the q1/q5 recipe), BIGINT counts, identical
aliases both sides. Registered via `from . import olap` in plans.queries;
driver-window placement is computed (`_driver_order`: never-checked
names first, so these claim slots the round after they land).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.files import load_table, load_table_spread
from .queries import register

# The exact-money recipe shared by every revenue aggregate below.
_DEC2, _DEC4 = "decimal(18,2)", "decimal(8,4)"


def _revenue_expr():
    """SUM-safe l_extendedprice*(1-l_discount) with exact decimal
    intermediates so partial-agg combine order cannot move the result."""
    return F.col("l_extendedprice").cast(_DEC2) * (
        F.lit(1).cast(_DEC4) - F.col("l_discount").cast(_DEC4)
    )


_REVENUE_SQL = (
    "SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))))"
)


@register(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(l_discount AS DECIMAL(8,4)))
           AS DECIMAL(38,6)) AS DOUBLE) AS promo_revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.03 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — revenue-increase forecast: one scan, three pushable
    predicates, one global sum of l_extendedprice*l_discount.

    Scale shape: the whole query is a scan→partial-agg→1-row reduce; all
    three predicates and the two-column projection reach the parquet
    reader (PushedFilters + ReadSchema in the plan), so at 100 TB the
    job reads only row groups whose l_shipdate min/max overlap 1996 and
    ships 16 bytes per task to the driver. The canonical 'is pushdown
    working' probe (sparkpykafkajoin.py has no analogue — pure OLAP
    extension)."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    promo = F.col("l_extendedprice").cast(_DEC2) * F.col("l_discount").cast(_DEC4)
    return filtered.agg(
        F.sum(promo).cast("decimal(38,6)").cast("double").alias("promo_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 — order-priority checking. Adaptation: the reference
    tables carry no l_commitdate/l_receiptdate, so the EXISTS predicate
    is 'has a returned line' (l_returnflag='R') instead of 'late line';
    the plan shape — date-pruned orders LEFT SEMI JOIN lineitem on
    orderkey, then a tiny 5-group count — is identical.

    Scale shape: the semi join shuffles only (o_orderkey,
    o_orderpriority) against lineitem's (l_orderkey) — no payload
    columns, no dedup needed (semi join stops at first match, vs the
    DISTINCT-then-inner alternative which would add an exchange). The
    date range prunes orders at the scan."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    semi = orders.join(
        returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi"
    )
    return semi.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "tpch_q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(CAST({_REVENUE_SQL} AS DECIMAL(38,6)) AS DOUBLE) AS revenue
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND n1.n_nationkey < 3 AND n2.n_nationkey < 3
      AND n1.n_nationkey <> n2.n_nationkey
    GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INT)
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 — volume shipping between nation pairs. Adaptation: the
    synthetic nations are NATION_0..24, so the FRANCE/GERMANY pair filter
    becomes nationkey<3 distinct pairs (6 ordered pairs × 2 years).

    Scale shape: two independent dimension chains hang off the fact —
    supplier→n1 and orders→customer→n2. Supplier and both nation sides
    broadcast; orders↔lineitem on orderkey is the one big shuffle.
    Critically the nation-pair filters apply to the BROADCAST sides
    before the fact join (Catalyst pushes n_nationkey<3 through the join
    into the supplier/customer builds), so ~88% of fact rows drop at the
    first join, not at the final filter."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 3)
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("n1_key") != F.col("n2_key"))
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(F.sum(_revenue_expr()).cast("decimal(38,6)").cast("double").alias("revenue"))


@register(
    "tpch_q10_returned_item_revenue",
    f"""
    SELECT c_custkey, c_name,
           CAST(CAST({_REVENUE_SQL} AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
           n_name
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 — top-20 customers by lost (returned-item) revenue in a
    quarter. Columns trimmed to what the synthetic customer table has
    (no address/phone/comment).

    Scale shape: returnflag + date filters prune both fact inputs at
    their scans; nation broadcasts; lineitem↔orders then ↔customer are
    the shuffles, and the per-customer agg reuses the customer-key
    exchange. The final top-20 is TakeOrderedAndProject (deterministic
    via the c_custkey tiebreak) — no global sort materializes. The
    pattern behind any 'worst offenders' report over the reference's
    risk stream at warehouse scale."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = load_table(spark, sf_dir, "nation")
    joined = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(_revenue_expr()).cast("decimal(38,6)").cast("double").alias("revenue")
    )
    return agg.select("c_custkey", "c_name", "revenue", "n_name").orderBy(
        F.desc("revenue"), F.asc("c_custkey")
    ).limit(20)


@register(
    "tpch_q12_priority_by_returnflag",
    """
    SELECT l_returnflag,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 — shipping-priority split. Adaptation: no l_shipmode
    column, so the GROUP BY is l_returnflag (3 groups vs Q12's 2 ship
    modes); the signature conditional-count-over-join shape is intact.

    Scale shape: one orderkey shuffle joining date-pruned lineitem to
    orders projected to (o_orderkey, o_orderpriority); the CASE sums
    partial-aggregate map-side so the final exchange carries 3 rows per
    task. The priority IN-list evaluates JVM-side in whole-stage
    codegen — no UDF."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
    )


@register(
    "tpch_q14_promo_revenue",
    f"""
    WITH agg AS (
      SELECT
        CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
              THEN CAST(l_extendedprice AS DECIMAL(18,2))
                   * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(38,6)) AS DOUBLE)
          AS promo_revenue,
        CAST(CAST({_REVENUE_SQL} AS DECIMAL(38,6)) AS DOUBLE) AS total_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
    )
    SELECT promo_revenue, total_revenue,
           round(100.0 * promo_revenue / total_revenue, 4) AS promo_pct
    FROM agg
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 — promotion-effect revenue share (p_type='PROMO' exact
    match; the synthetic p_type has no trailing words to LIKE over).

    Scale shape: part broadcasts (one month of lineitem joins against
    the full part dim; at 100 TB part is ~1/1000th of lineitem and
    AQE would broadcast it from runtime stats — forced here so the plan
    is shuffle-free outside the 1-row reduce). Both sums come off one
    joined pass; the percentage divides the two exact decimals as
    doubles (identical IEEE division both engines) and rounds to 4dp."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", _revenue_expr()).otherwise(
        F.lit(0).cast(_DEC2)
    )
    agg = joined.agg(
        F.sum(promo).cast("decimal(38,6)").cast("double").alias("promo_revenue"),
        F.sum(_revenue_expr())
        .cast("decimal(38,6)")
        .cast("double")
        .alias("total_revenue"),
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        F.round(
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 4
        ).alias("promo_pct"),
    )


@register(
    "tpch_q16_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 9, 19, 29, 39, 49)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 — supplier-count by part attributes. Adaptation: no
    partsupp table, so supplier-part relationships come from observed
    lineitem rows (count DISTINCT l_suppkey per part group); no
    supplier-comment exclusion subquery (no comment column).

    Scale shape: the part-side predicates (brand exclusion + size
    IN-list) prune the BROADCAST build before the fact join, so ~88% of
    lineitem drops at the join. count(DISTINCT) plans as two exchanges
    (expand + final) on (group, suppkey) digest-width keys — the
    standard Spark distinct-agg shape, skew-safe because the first
    hop includes suppkey in the key."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_size").isin(1, 9, 19, 29, 39, 49))
    )
    joined = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    return joined.groupBy("p_brand", "p_type", "p_size").agg(
        F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt")
    )


@register(
    "tpch_q18_large_volume_customer",
    """
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 — large-volume customers (orders whose lines sum past a
    quantity threshold; 150 sized to the synthetic ~6-line orders).

    Scale shape: the HAVING subquery is a lineitem self-aggregation on
    orderkey — 2 narrow columns in, one bigint key out — and feeds a
    LEFT SEMI join against orders (IN (subquery) plans as semi, no
    dedup exchange). The qualifying ~0.1% of orders then join customer
    broadcast-side and re-join lineitem for the final per-order sum,
    reusing the orderkey partitioning from the first agg. Top-100 is
    TakeOrderedAndProject with the o_orderkey tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "bok"),
        F.col("o_orderkey") == F.col("bok"),
        "left_semi",
    )
    cust = load_table(spark, sf_dir, "customer")
    joined = cust.join(orders, F.col("c_custkey") == F.col("o_custkey")).join(
        li, F.col("o_orderkey") == F.col("l_orderkey")
    )
    agg = joined.groupBy(
        "c_custkey",
        "c_name",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"))
    return agg.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(100)


@register(
    "tpch_q19_disjunctive_revenue",
    f"""
    SELECT CAST(CAST({_REVENUE_SQL} AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 — discounted revenue under disjunctive predicates
    (three OR'd brand/size/quantity conjunct groups; container and
    shipmode terms dropped — columns absent).

    Scale shape: Catalyst splits the disjunction by table: the
    single-table OR over (p_brand, p_size) terms pushes into the
    broadcast part build, and the l_quantity OR-envelope
    (1 <= qty <= 30) is derivable per-branch only after the join, so
    the cross-table residual evaluates in the join's codegen stage.
    What matters at 100 TB: the part side shrinks to 3 brands before
    broadcast, and no branch falls back to a cartesian — one hash join,
    zero shuffles on the fact side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    qty = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & (qty >= 1)
            & (qty <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & (qty >= 10)
            & (qty <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & (qty >= 20)
            & (qty <= 30)
        )
    )
    return joined.filter(branch).agg(
        F.sum(_revenue_expr()).cast("decimal(38,6)").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------------
# LLM-pipeline: deterministic per-language mixture sampling via md5-prefix
# thresholds (NOTES.md round-3 candidate). Complements mixture_sample_by_lang
# (modulo-on-hash) with the threshold form production samplers prefer: the
# keep-set is MONOTONE in the rate — raising a language's rate only ADDS
# documents, never swaps them — which makes mixture re-weighting between
# training runs an incremental ingest instead of a full reshuffle.
# --------------------------------------------------------------------------


_MIX_RATES = {"en": 0.25, "de": 0.75, "es": 0.5, "fr": 0.5, "zh": 1.0}


def _hex_threshold(rate: float) -> str:
    """First-4-hex-digit threshold: keep iff substr(md5,1,4) < this.
    'g' sorts above every hex digit, so rate>=1 keeps every row."""
    return "g" if rate >= 1.0 else format(int(rate * 65536), "04x")


@register(
    "mixture_sample_md5_threshold",
    """
    WITH keyed AS (
      SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h4
      FROM documents
    )
    SELECT lang, count(*) AS n_kept, min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM keyed
    WHERE h4 < CASE lang
      WHEN 'en' THEN '4000' WHEN 'de' THEN 'c000' WHEN 'es' THEN '8000'
      WHEN 'fr' THEN '8000' ELSE 'g' END
    GROUP BY lang
    """,
)
def q_mixture_sample_md5_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language mixture sampling by md5-prefix threshold: keep a
    document iff the first 4 hex digits of md5(doc_id) sort below the
    language's threshold (rate*65536 in hex; 'g' sorts above every hex
    digit = keep-all). Equal-length lowercase-hex comparison IS numeric
    comparison, so both engines evaluate the same keep-set with no
    float arithmetic anywhere.

    Why threshold, not modulo: the keep-set is monotone in the rate —
    re-weighting the mixture between runs only adds/removes the margin,
    so downstream shards can be updated incrementally. Scale shape: one
    scan, no shuffle before the per-lang count; the hash is
    content-derived (doc_id), so retries and repartitioning cannot
    change the sample."""
    docs = load_table(spark, sf_dir, "documents")
    thr = F.create_map(
        *[
            x
            for lang, rate in sorted(_MIX_RATES.items())
            for x in (F.lit(lang), F.lit(_hex_threshold(rate)))
        ]
    )
    keyed = docs.select(
        "doc_id",
        "lang",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("h4"),
    )
    # a lang absent from the rate map defaults to keep-all ('g' sorts
    # above every hex digit) — matching the oracle's CASE ... ELSE 'g';
    # a bare map lookup would return NULL and silently drop those rows
    kept = keyed.filter(F.col("h4") < F.coalesce(thr[F.col("lang")], F.lit("g")))
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@register(
    "mixture_temperature_resample",
    """
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ), rates AS (
      SELECT lang, n, least(1.0, round(8.0 / sqrt(n), 6)) AS rate FROM counts
    ), keyed AS (
      SELECT d.lang, r.n, r.rate,
             ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT AS h
      FROM documents d JOIN rates r USING (lang)
    )
    SELECT lang, max(n) AS n_total, max(rate) AS rate, count(*) AS n_kept
    FROM keyed WHERE h < floor(rate * 65536)
    GROUP BY lang
    """,
)
def q_mixture_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (the T5/unigram-LM alpha
    trick, alpha=0.5): each language's keep-rate is proportional to
    n^(alpha-1) = 1/sqrt(n), so head languages are downsampled toward a
    flatter mixture while tail languages keep everything (rate capped at
    1). The rate rounds to 6dp BEFORE thresholding — both engines then
    floor the identical double — and membership is the md5-prefix
    integer compare, so the kept set is bit-deterministic and, as in
    mixture_sample_md5_threshold, monotone under rate increases.

    Scale shape: pass 1 is a tiny per-lang count (at 100 TB you'd read
    it from table stats instead); the 5-row rates table broadcast-joins
    back onto the corpus scan, and the filter + final per-lang count
    need no additional exchange beyond the 5-group agg."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    rates = counts.select(
        "lang",
        "n",
        F.least(F.lit(1.0), F.round(F.lit(8.0) / F.sqrt("n"), 6)).alias("rate"),
    )
    keyed = docs.join(F.broadcast(rates), "lang").select(
        "lang",
        "n",
        "rate",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        .alias("h"),
    )
    kept = keyed.filter(F.col("h") < F.floor(F.col("rate") * 65536))
    return kept.groupBy("lang").agg(
        F.max("n").alias("n_total"),
        F.max("rate").alias("rate"),
        F.count(F.lit(1)).alias("n_kept"),
    )


@register(
    "global_shuffle_order",
    """
    WITH ordered AS (
      SELECT doc_id, md5('42-' || CAST(doc_id AS VARCHAR)) AS shuf,
             row_number() OVER (ORDER BY md5('42-' || CAST(doc_id AS VARCHAR)), doc_id)
               AS global_rn
      FROM documents
    )
    SELECT doc_id, shuf, global_rn FROM ordered
    WHERE global_rn % 100 = 1
    """,
)
def q_global_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training order: shuffle key = md5(seed ||
    doc_id), position = global row number in shuffle-key order. Training
    runs need the SAME permutation across re-executions (resume from
    step N, data-order ablations), which rand() cannot give — the
    content-derived key can. Output samples every 100th position so the
    oracle row count stays bounded while still certifying positions from
    every range partition.

    Scale shape: built on operators.ranking.global_row_number — range
    partition by shuffle key, per-partition local row_number, broadcast
    triangular offset join — so there is NO single-partition window
    anywhere (the oracle's OVER (ORDER BY ...) is the SQL spelling, not
    the plan). The modulo filter evaluates after numbering; at 100 TB
    the full numbered permutation is what a shard-writer would consume."""
    from ..operators.ranking import global_row_number

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.lit("42-"), F.col("doc_id").cast("string"))).alias("shuf"),
    )
    numbered = global_row_number(docs, ["shuf", "doc_id"], rn_col="global_rn")
    return numbered.filter((F.col("global_rn") % 100) == 1).select(
        "doc_id", "shuf", F.col("global_rn").cast("long").alias("global_rn")
    )


@register(
    "chunk_exact_dedup",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), chunks AS (
      SELECT doc_id, md5(array_to_string(w[i*10+1:i*10+10], ' ')) AS chunk_hash
      FROM words, (SELECT unnest(range(0, 30)) AS i)
      WHERE len(w) >= (i+1)*10
    )
    SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
           min(doc_id) AS doc_min
    FROM chunks GROUP BY chunk_hash HAVING count(DISTINCT doc_id) > 1
    """,
)
def q_chunk_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact span dedup (the RefinedWeb/C4 'repeated
    passage' detector): split each document into non-overlapping 10-word
    windows (first 30 windows) and report every window whose md5 occurs
    in more than one document — boilerplate headers, license blocks,
    and near-dup fragments that document-level dedup cannot see.

    Scale shape: one scan; the explode is stride-windowed (output tokens
    ~= input tokens, NOT the n^2 of sliding shingles) and projects to
    (md5 digest, doc_id) BEFORE the exchange, so the shuffle carries 40
    bytes/row regardless of document size. The distinct-doc count uses
    Spark's two-phase distinct-agg expand. Detection twin of
    chunk_documents (which materializes the chunks themselves)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    docs = docs.filter(F.size("w") >= 10)
    idx = F.sequence(
        F.lit(0),
        F.least(F.lit(29), (F.floor(F.size("w") / 10) - 1).cast("int")),
    )
    chunks = docs.select(
        "doc_id", "w", F.explode(idx).alias("i")
    ).select(
        "doc_id",
        F.md5(F.array_join(F.slice("w", F.col("i") * 10 + 1, 10), " ")).alias(
            "chunk_hash"
        ),
    )
    agg = chunks.groupBy("chunk_hash").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occ"),
        F.min("doc_id").alias("doc_min"),
    )
    return agg.filter(F.col("n_docs") > 1)


@register(
    "try_safe_arithmetic",
    """
    SELECT count(*) AS n,
           count(value / nullif(user_id % 100, 0)) AS n_div_ok,
           count(CASE WHEN user_id % 100 <> 99
                      THEN 9223372036854775709 + (user_id % 100) END) AS n_add_ok,
           count(TRY_CAST(CASE WHEN user_id % 100 = 0 THEN event_type
                               ELSE CAST(user_id AS VARCHAR) END AS INT))
             AS n_cast_ok
    FROM events
    """,
)
def q_try_safe_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic surface: Spark 4 runs queries with
    spark.sql.ansi.enabled=true, where /0, bigint overflow, and bad
    casts THROW instead of silently returning NULL — a single poisoned
    row can kill a 1000-executor job hours in. The try_* family is the
    production answer: per-row failures degrade to NULL and the counts
    quantify them. DuckDB has no try_divide/try_add, so the oracle
    spells the same semantics with nullif/CASE guards.

    Failures are planted on ~1% of rows (mod-100 slices) because that
    is the operating envelope: Spark's try_* failure path THROWS AND
    CATCHES a JVM exception per failing row (~20 µs each, measured —
    an all-failing column costs ~3 s per 100k rows per core). try_* is
    a guard for rare poison rows; a column that fails systematically
    is a schema bug the pipeline should fix upstream, not try_-wrap.

    Scale shape: single scan, codegen'd expressions, 1-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    mod = F.col("user_id") % 100
    return ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.try_divide("value", mod)).alias("n_div_ok"),
        F.count(
            F.try_add(F.lit(9223372036854775709), mod.cast("bigint"))
        ).alias("n_add_ok"),
        F.count(
            F.when(mod == 0, F.col("event_type"))
            .otherwise(F.col("user_id").cast("string"))
            .try_cast("int")
        ).alias("n_cast_ok"),
    )


@register(
    "tpch_q13_customer_distribution",
    """
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 — customer order-count distribution (the comment-based
    order exclusion is dropped: no o_comment column). Two-level
    aggregation: orders-per-customer via LEFT OUTER join (customers
    with zero orders must appear, count=0), then the histogram of those
    counts.

    Scale shape: count(o_orderkey) ignores the null-extended rows, so
    level 1 is one custkey shuffle; level 2 regroups ~|customers| tiny
    (bigint, bigint) rows by count value — negligible. A 100 TB
    refinement would pre-aggregate orders by o_custkey BELOW the join
    (partial count before the shuffle); Catalyst already pushes the
    count's partial aggregation map-side here, which is the same win."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q22_global_sales_opportunity",
    """
    WITH avg_bal AS (
      SELECT CAST(avg(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS ab
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey AS cntrycode, count(*) AS numcust,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2))
                AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) > ab
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                        AND o_orderdate < TIMESTAMP '1996-03-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 — sales opportunity: customers with above-average
    balance and no recent order. Adaptations: country code =
    c_nationkey (no phone column to take a prefix of), and 'never
    ordered' becomes 'no order in a 2-month window' — the synthetic
    keyspace is dense (every customer has orders), so the literal Q22
    anti-join is degenerate; the lapsed-high-value-customer intent and
    the plan shape survive. Composes the scalar aggregate subquery
    (average balance, computed once and broadcast) with a LEFT ANTI
    join against date-pruned orders.

    Scale shape: the average is a 1-row DataFrame crossJoin-broadcast —
    NOT a driver-side collect, so the pipeline stays lazy end-to-end
    (the q_tfidf lesson from round 2). The anti join shuffles only
    (c_custkey) vs (o_custkey) bigints; the decimal cast makes the
    average exact so the > comparison can't flip on fp summation
    order."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast(_DEC2).alias("bal"),
    )
    # both engines compare against the SAME double: Spark's
    # avg(decimal(18,2)) is decimal(22,6) (half-up) while DuckDB's is
    # DOUBLE — left as-is the `bal > ab` membership could flip for a
    # balance within ~1e-6 of the mean, so cast the average explicitly
    avg_bal = cust.filter(F.col("bal") > 0).agg(
        F.avg("bal").cast("double").alias("ab")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-03-01").cast("timestamp"))
        )
        .select("o_custkey")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(F.col("bal") > F.col("ab"))
    never_ordered = rich.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return never_ordered.groupBy(
        F.col("c_nationkey").alias("cntrycode")
    ).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum("bal").cast("decimal(38,2)").cast("double").alias("totacctbal"),
    )


@register(
    "tpch_q8_market_share",
    """
    WITH all_nations AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        CAST(l_extendedprice AS DECIMAL(18,2))
          * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) AS volume,
        n2.n_name AS supp_nation
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
      round(CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DECIMAL(38,6))
                 AS DOUBLE)
            / CAST(CAST(SUM(volume) AS DECIMAL(38,6)) AS DOUBLE), 6) AS mkt_share
    FROM all_nations GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 — national market share: NATION_5's slice of PROMO-part
    volume sold into ASIA, by order year. The deepest join in the
    expressible set: 8 tables, two independent nation chains (customer
    region gates the rows; supplier nation feeds the share split).

    Scale shape: every dimension chain (part filtered to 1/6 of types,
    region-gated nation, supplier) broadcasts; lineitem↔orders on
    orderkey is again the only big shuffle. The share is a conditional
    sum over one pass — no second scan, no join back. Exact decimal
    sums surface as doubles; the final division is identical IEEE on
    both engines, rounded to 6dp."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_reg")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(reg), F.col("n1_reg") == F.col("r_regionkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = _revenue_expr()
    nation_vol = F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(
        F.lit(0).cast(_DEC2)
    )
    agg = joined.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.sum(nation_vol).cast("decimal(38,6)").cast("double").alias("nv"),
        F.sum(vol).cast("decimal(38,6)").cast("double").alias("tv"),
    )
    return agg.select(
        "o_year", F.round(F.col("nv") / F.col("tv"), 6).alias("mkt_share")
    )


@register(
    "tpch_q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(CAST({_REVENUE_SQL} AS DECIMAL(38,6)) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — top supplier by quarterly revenue (the reference SQL
    uses a view + scalar max subquery; here the revenue frontier is a
    shared DataFrame consumed twice).

    Scale shape: the per-supplier revenue aggregate is computed ONCE —
    a lazy localCheckpoint materialized on first action, read by both
    the max and the equality filter (the same pin-the-frontier
    discipline as ranking.py); the scalar max enters as a broadcast
    1-row join, not a collect. localCheckpoint rather than persist():
    cache entries live in the CacheManager until an explicit unpersist
    and would leak across the ~80 queries a sequential driver run
    executes after this one, while checkpoint blocks are released by
    the ContextCleaner as soon as the result frame is dereferenced.
    Ties all surface, matching the SQL semantics."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(_revenue_expr())
            .cast("decimal(38,6)")
            .cast("double")
            .alias("total_revenue")
        )
        .localCheckpoint(eager=False)
    )
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    top = revenue.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("_mx")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return top.join(
        F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey")
    ).select("s_suppkey", "s_name", "total_revenue")


@register(
    "tpch_q17_small_quantity_revenue",
    """
    WITH avg_qty AS (
      SELECT l_partkey AS ap_key, 0.5 * avg(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(38,2)) AS DOUBLE) AS total_price,
           count(*) AS n_lines
    FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN avg_qty ON l_partkey = ap_key
    WHERE p_brand = 'Brand#1' AND l_quantity < half_avg
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 — small-quantity-order revenue: lines of Brand#1 parts
    whose quantity is below half the part's average (no p_container
    column, so the container predicate is dropped). The correlated
    per-part average decorrelates into a self-aggregate + equi-join —
    the form Spark and DuckDB both plan; no per-row re-execution.

    Scale shape: the per-part average is a partial-agg'd partkey
    shuffle of 2 narrow columns; joining it back co-partitions with the
    fact's partkey hash. The 0.5 factor multiplies the AVERAGE (one row
    per part), not every fact row. Brand filter broadcasts through the
    part dim. At TPC-H spec the avg would be restricted to the brand's
    parts via semi-join pushdown; computed over all parts here to keep
    the oracle CTE identical."""
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#1"
    ).select("p_partkey")
    joined = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(avg_qty, F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
    )
    return joined.agg(
        F.sum(F.col("l_extendedprice").cast(_DEC2))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("total_price"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "winnowing_fingerprints",
    """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), grams AS (
      SELECT doc_id, i,
             ('0x' || substr(md5(array_to_string(w[i+1:i+5], ' ')), 1, 8))::BIGINT AS h
      FROM words, (SELECT unnest(range(0, 400)) AS i)
      WHERE len(w) >= i + 5
    ), wins AS (
      SELECT doc_id,
        min(h) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        count(*) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wlen
      FROM grams
    ), fps AS (
      SELECT DISTINCT doc_id, fp FROM wins WHERE wlen = 4
    )
    SELECT fp AS fingerprint, count(*) AS n_docs, min(doc_id) AS doc_min
    FROM fps GROUP BY fp HAVING count(*) > 1
    """,
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): hash every 5-token gram, slide a
    4-gram window, keep each window's MINIMUM hash as a fingerprint.
    Guarantee: any shared span of >= w+k-1 = 8 tokens yields at least
    one shared fingerprint, at expected density 2/(w+1) ~ 40% of grams
    — a principled size/recall dial that plain stride chunking
    (chunk_exact_dedup) lacks. Output: fingerprints appearing in more
    than one document.

    Scale shape: the gram explode is bounded (cap 400 grams/doc); the
    window partitions BY DOCUMENT — thousands of rows max per key, so
    the one doc_id exchange never concentrates (this is the safe kind
    of window, unlike global ranking); fingerprints shuffle as 32-bit
    ints for the final group. 32-bit md5-prefix hashes keep the oracle
    bit-identical (DuckDB has no xxhash64) and every product ANSI-safe."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 5)
    idx = F.sequence(
        F.lit(0), F.least(F.lit(399), (F.size("w") - 5).cast("int"))
    )
    grams = docs.select(
        "doc_id", "w", F.explode(idx).alias("i")
    ).select(
        "doc_id",
        "i",
        F.conv(
            F.substring(
                F.md5(F.array_join(F.slice("w", F.col("i") + 1, 5), " ")), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
    wins = grams.select(
        "doc_id",
        F.min("h").over(win).alias("fp"),
        F.count("h").over(win).alias("wlen"),
    )
    fps = wins.filter(F.col("wlen") == 4).select("doc_id", "fp").distinct()
    return (
        fps.groupBy(F.col("fp").alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("doc_min"))
        .filter(F.col("n_docs") > 1)
    )


# --------------------------------------------------------------------------
# Round-4 wave: curation compositions — keep-best consolidation, bigram
# novelty, multimodal frame sampling, mergeable-HLL union.
# --------------------------------------------------------------------------


def _keep_best_oracle() -> str:
    """Clusters via the exact-Jaccard recursive-CTE components (the
    dedup_cluster_assignment oracle), quality via the frozen-coefficient
    logit chain (quality_logit_frozen) — composed: argmin(logit, doc_id)
    per cluster."""
    from ..operators.models import FROZEN_COEFS, FROZEN_INTERCEPT
    from ..operators.text import STOPWORDS

    sw = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    c_dtr, c_tts, c_nt, c_swr = (repr(c) for c in FROZEN_COEFS)
    z = (
        f"{FROZEN_INTERCEPT!r} + {c_dtr} * dtr + {c_tts} * tts"
        f" + {c_nt} * n_tok + {c_swr} * swr"
    )
    return f"""
    WITH RECURSIVE sets AS (
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
    ), pairs AS (
      SELECT doc_a, doc_b
      FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ), nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ), clusters AS (SELECT node, MIN(lab) AS cluster FROM reach GROUP BY node),
    feats AS (
      SELECT doc_id,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dtr,
        CAST(list_max(list_transform(list_distinct(toks),
          x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE) / len(toks) AS tts,
        CAST(len(toks) AS DOUBLE) AS n_tok,
        CAST(len(list_filter(toks, t -> t IN ({sw}))) AS DOUBLE) / len(toks) AS swr
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ), member AS (
      SELECT f.doc_id, COALESCE(c.cluster, f.doc_id) AS cluster, {z} AS logit
      FROM feats f LEFT JOIN clusters c ON c.node = f.doc_id
    ), ranked AS (
      SELECT cluster, doc_id, logit,
        row_number() OVER (PARTITION BY cluster ORDER BY logit, doc_id) AS rn,
        count(*) OVER (PARTITION BY cluster) AS n_members
      FROM member
    )
    SELECT cluster, CAST(n_members AS BIGINT) AS n_members,
           doc_id AS keep_id, round(logit, 6) AS best_logit
    FROM ranked WHERE rn = 1
    """


@register("dedup_cluster_keep_best", _keep_best_oracle())
def q_dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup consolidation policy a training pipeline
    actually ships: LSH pairs → connected components → keep the
    HIGHEST-QUALITY member per cluster (lowest frozen-model logit =
    least spammy; doc_id breaks ties), singletons keep themselves.

    Scale shape: cluster labels exist only for clustered nodes (a tiny
    frame at any realistic dup rate) and broadcast-join back onto the
    corpus; the per-cluster argmin is ONE hash aggregate via
    min(struct(logit, doc_id)) — struct comparison is field-ordered, so
    it's the exact (logit, doc_id) lexicographic argmin with map-side
    partial aggregation, no window over the corpus. The oracle replays
    clusters via the recursive-CTE exact components and quality via the
    identical literal logit chain."""
    from ..operators.dedup import connected_components, minhash_near_dups
    from ..operators.models import frozen_logit_expr, quality_feature_frame

    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    pairs = minhash_near_dups(docs, threshold=0.5)
    labels = connected_components(pairs)
    scored = quality_feature_frame(docs).select(
        "doc_id", frozen_logit_expr().alias("logit")
    )
    member = (
        scored.join(
            F.broadcast(labels), scored["doc_id"] == labels["node"], "left"
        )
        .select(
            "doc_id",
            F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster"),
            "logit",
        )
    )
    best = member.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.struct("logit", "doc_id")).alias("_b"),
    )
    return best.select(
        "cluster",
        "n_members",
        F.col("_b.doc_id").alias("keep_id"),
        F.round(F.col("_b.logit"), 6).alias("best_logit"),
    )


@register(
    "ngram_novelty_scores",
    """
    WITH docbg AS (
      SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      WHERE len(toks) >= 2
    ), counts AS (
      SELECT bg, COUNT(*) AS cnt FROM docbg GROUP BY bg
    )
    SELECT doc_id,
      COUNT(*) AS n_bigrams,
      round(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 6) AS avg_bg_freq,
      round(CAST(COUNT(*) FILTER (cnt = 1) AS DOUBLE) / COUNT(*), 6) AS hapax_ratio
    FROM docbg JOIN counts USING (bg)
    GROUP BY doc_id
    """,
)
def q_ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency novelty signals per document: for each doc, the
    mean corpus-wide frequency of its bigrams (high = boilerplate that
    repeats across the corpus, low = novel text) and the share of its
    bigrams that are corpus-hapax (appear exactly once anywhere) — the
    cheap cross-document complement to the WITHIN-document repetition
    rules (doc_repetition_stats). Pure integer counts and exact
    divisions, so the oracle matches bit-for-bit.

    Scale shape: explode bigrams once; the corpus count and the
    join-back co-partition on the same bigram key, so the second
    exchange is the only extra cost; per-doc stats then partial-agg on
    doc_id. At 100 TB you'd hash the bigram to a 64-bit key before the
    shuffle (string keys only kept here for oracle portability —
    DuckDB lacks xxhash64)."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE into an attribute before the lambda touches it —
    # inlining split() into the transform re-splits the text twice per
    # element (interpreted); measured 5.3 s → sub-second at sf0.1
    toked = docs.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.expr("size(toks) >= 2")
    )
    bigrams = (
        "transform(sequence(1, size(toks) - 1), "
        "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    docbg = toked.select("doc_id", F.explode(F.expr(bigrams)).alias("bg"))
    counts = docbg.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        docbg.join(counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("cnt").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_bg_freq"),
            F.round(
                F.sum((F.col("cnt") == 1).cast("bigint")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("hapax_ratio"),
        )
    )


@register(
    "multimodal_frame_sample",
    """
    WITH f AS (
      SELECT doc_id, text,
        unnest(generate_series(0,
          CAST(ceil(octet_length(CAST(text AS BLOB)) / 256.0) AS BIGINT) - 1)) AS frame_id
      FROM documents
    )
    SELECT doc_id, frame_id,
      md5(substring(text, CAST(frame_id * 256 + 1 AS BIGINT), 256)) AS frame_digest,
      CAST(length(substring(text, CAST(frame_id * 256 + 1 AS BIGINT), 256)) AS BIGINT)
        AS frame_chars
    FROM f
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the multimodal layout
    (operators/multimodal.py frame_sample): one row per fixed-size
    payload chunk — the video-decode fan-out shape. Frame COUNT comes
    from the byte length in the metadata struct while slicing is
    character-based (the payload stands in for an opaque blob), so
    multi-byte languages produce trailing empty frames — deterministic,
    replayed exactly by the oracle. Emits a digest + length per frame
    (compact audit columns), not the frame bytes.

    Scale shape: explode(sequence) is a narrow per-row fan-out — no
    shuffle anywhere; payloads never move between executors, and a real
    codec would decode each frame in a follow-up mapInPandas over the
    same partitioning."""
    from ..operators.multimodal import as_binary_payload, frame_sample

    docs = load_table(spark, sf_dir, "documents")
    frames = frame_sample(as_binary_payload(docs), every_n_bytes=256)
    return frames.select(
        "doc_id",
        F.col("frame_id").cast("bigint").alias("frame_id"),
        F.md5("frame_payload").alias("frame_digest"),
        F.length("frame_payload").cast("bigint").alias("frame_chars"),
    )


@register(
    "audio_frame_energy",
    """
    WITH f AS (
      SELECT doc_id, text,
        unnest(generate_series(0,
          CAST(ceil(octet_length(CAST(text AS BLOB)) / 128.0) AS BIGINT) - 1))
          AS frame_id
      FROM documents
      WHERE octet_length(CAST(text AS BLOB)) > 0
        AND strlen(text) = length(text)
    ),
    fr AS (
      SELECT doc_id, frame_id,
             substring(text, CAST(frame_id * 128 + 1 AS BIGINT), 128) AS frame
      FROM f
    )
    SELECT doc_id, CAST(frame_id AS INT) AS frame_id,
      CAST(length(frame) AS INT) AS n_samples,
      CAST(list_sum(list_transform(range(1, length(frame) + 1),
        i -> (ascii(substr(frame, CAST(i AS INT), 1)) - 128)
           * (ascii(substr(frame, CAST(i AS INT), 1)) - 128))) AS BIGINT)
        AS energy
    FROM fr
    """,
)
def q_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame audio energy Σ(sample−128)² over the multimodal layout
    (operators/multimodal.py audio_frame_energy) — the silence/activity
    detector an audio-curation pipeline runs before the expensive
    ASR/codec stage. Energy is exact INTEGER arithmetic over the raw
    bytes (numpy over Arrow batches in mapInPandas), and the synthetic
    payloads are ASCII (char positions == byte positions), so DuckDB
    replays the identical math with ascii(substr(...)) — certifying the
    Arrow path BY VALUE, the multimodal_features recipe.

    Scale shape: narrow mapInPandas over the payload partitioning — no
    shuffle; payload pruned from the output (4 small columns out)."""
    from ..operators.multimodal import as_binary_payload, audio_frame_energy

    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length("text") == F.length("text")  # ASCII: bytes==chars
    )
    return audio_frame_energy(as_binary_payload(docs), frame_bytes=128)


@register(
    "image_resize_nearest",
    """
    WITH d AS (
      SELECT doc_id, text,
             octet_length(CAST(text AS BLOB)) // 64 AS h
      FROM documents
      WHERE octet_length(CAST(text AS BLOB)) >= 64
        AND strlen(text) = length(text)
    ),
    px AS (
      SELECT doc_id, y * 16 + x AS p,
        ascii(substr(text,
          CAST(((y * h) // 16) * 64 + ((x * 64) // 16) + 1 AS INT), 1)) AS v
      FROM d, range(0, 16) AS ty(y), range(0, 16) AS tx(x)
    )
    SELECT doc_id, CAST(16 AS INT) AS out_h, CAST(16 AS INT) AS out_w,
      CAST(sum(v * ((p % 97) + 1)) AS BIGINT) AS checksum
    FROM px GROUP BY doc_id
    """,
)
def q_image_resize_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor thumbnail resize over the multimodal layout
    (operators/multimodal.py resize_nearest): payload as a 64-wide
    8-bit raster → 16×16, source indices pure integer floor math, plus
    the exact positional checksum Σ byte(p)·((p mod 97)+1) — all
    integer, so the numpy fancy-indexing Arrow path is certified BY
    VALUE by the DuckDB ascii(substr) replay (ASCII payloads: char
    positions == byte positions; the audio_frame_energy recipe). The
    thumbnail bytes themselves are dropped from the registered
    projection (the checksum pins every pixel positionally).

    Scale shape: narrow mapInPandas, zero shuffles; output is a fixed
    256-byte thumbnail + 3 small columns per image regardless of
    payload size — the payload-pruning discipline."""
    from ..operators.multimodal import as_binary_payload, resize_nearest

    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length("text") == F.length("text")  # ASCII: bytes==chars
    )
    mm = as_binary_payload(docs)
    return resize_nearest(mm, src_width=64, out_h=16, out_w=16).drop("resized")


@register(
    "image_decode_stats",
    """
    WITH d AS (
      SELECT doc_id, text FROM documents
      WHERE length(text) >= 384 AND strlen(text) = length(text)
    ),
    px AS (
      SELECT doc_id,
        ascii(substr(text, CAST(3 * p + 1 AS INT), 1)) AS r,
        ascii(substr(text, CAST(3 * p + 2 AS INT), 1)) AS g,
        ascii(substr(text, CAST(3 * p + 3 AS INT), 1)) AS b
      FROM d, range(0, 128) AS t(p)
    )
    SELECT doc_id, CAST(16 AS INT) AS width, CAST(8 AS INT) AS height,
      CAST(3 AS INT) AS channels,
      CAST(sum(r) AS BIGINT) AS sum_r,
      CAST(sum(g) AS BIGINT) AS sum_g,
      CAST(sum(b) AS BIGINT) AS sum_b
    FROM px GROUP BY doc_id
    """,
)
def q_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (operators/multimodal.py decode_image /
    decode_image_stats): each document's first 384 bytes are wrapped
    in-plan into a valid binary PPM (P6, 16×8, maxval 255 — header +
    raw RGB raster, built with JVM-side concat/cast, no UDF), then the
    numpy PPM parser decodes header + raster over Arrow batches and
    emits dimensions plus exact INTEGER per-channel byte sums. The
    ASCII precondition (char positions == byte positions) is ENFORCED,
    not assumed (r8): both engines filter to octet_length == length
    rows (Spark octet_length/length, DuckDB strlen/length), so a
    non-ASCII document — whose UTF-8 payload would make the byte-based
    numpy decode diverge from the char-based ascii(substr) oracle — is
    excluded from BOTH sides instead of silently corrupting the match.
    DuckDB then replays R/G/B as ascii(substr(text, 3p+1..3, 1)) over
    the pixel grid — certifying the full decode path BY VALUE (the
    multimodal_features recipe). BMP decode shares the same operator
    and is pinned by planted-image pytests (byte-identical round-trip
    incl. row padding and bottom-up flip).

    Scale shape: narrow mapInPandas over the scan partitioning — zero
    shuffles; payload pruned to 7 small columns out."""
    from ..operators.multimodal import decode_image_stats

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.length("text") >= 384)
        & (F.octet_length("text") == F.length("text"))
    )
    mm = docs.select(
        "doc_id",
        F.concat(
            F.lit("P6\n16 8\n255\n").cast("binary"),
            F.substring("text", 1, 384).cast("binary"),
        ).alias("payload"),
    )
    return decode_image_stats(mm)


def _hll_merge_oracle() -> str:
    from ..operators.sketches import hll_merge_oracle_sql

    return hll_merge_oracle_sql("documents", "source", "doc_id")


@register("hll_distinct_merge_by_source", _hll_merge_oracle())
def q_hll_distinct_merge_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-UNION under the value gate: per-source portable-HLL
    distinct estimates plus the 'ALL' row whose registers are the
    per-bucket max over the per-source sketches — the associative merge
    that lets per-day/per-shard sketches roll up at 100 TB without
    rescanning raw keys. The oracle replays registers AND the merge;
    tests additionally pin merged == direct-global-scan estimate
    (operators/sketches.py hll_merge_estimate)."""
    from ..operators.sketches import hll_merge_estimate

    docs = load_table(spark, sf_dir, "documents")
    return hll_merge_estimate(docs, "source", "doc_id")


#: 20 words = exactly two 10-word chunks, so prepending it shifts the
#: body by whole chunks and body chunk boundaries stay aligned with the
#: unplanted text — after the strip, a planted doc's clean text equals
#: its original text exactly (pytest-pinned).
_BOILER_LICENSE = (
    "license grant copyright notice redistribution permitted provided "
    "that the above copyright notice and this permission notice appear "
    "in all copies"
)
_BOILER_MIN_DOCS = 3
_BOILER_CHUNK = 10


@register(
    "boilerplate_strip_rewrite",
    f"""
    WITH src AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 1 THEN '{_BOILER_LICENSE}' || ' ' || text
             ELSE text END AS text
      FROM documents WHERE length(text) > 0
    ),
    w AS (SELECT doc_id, string_split(text, ' ') AS words FROM src),
    c AS (
      SELECT doc_id, i AS pos,
        array_to_string(
          list_slice(words, i * {_BOILER_CHUNK} + 1,
                     i * {_BOILER_CHUNK} + {_BOILER_CHUNK}), ' ') AS chunk
      FROM w, LATERAL unnest(generate_series(0,
        CAST(ceil(len(words) / {_BOILER_CHUNK}.0) AS BIGINT) - 1)) AS t(i)
    ),
    d AS (
      SELECT md5(chunk) AS dg FROM c
      GROUP BY 1 HAVING count(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}
    ),
    k AS (
      SELECT c.* FROM c LEFT JOIN d ON md5(c.chunk) = d.dg
      WHERE d.dg IS NULL
    ),
    tot AS (SELECT doc_id, count(*) AS n_chunks FROM c GROUP BY doc_id),
    reb AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             string_agg(chunk, ' ' ORDER BY pos) AS clean
      FROM k GROUP BY doc_id
    )
    SELECT tot.doc_id, CAST(tot.n_chunks AS BIGINT) AS n_chunks,
           coalesce(reb.n_kept, 0) AS n_kept,
           md5(coalesce(reb.clean, '')) AS clean_digest,
           CAST(length(coalesce(reb.clean, '')) AS BIGINT) AS clean_chars
    FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
    """,
)
def q_boilerplate_strip_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL with document reassembly (the C4/RefinedWeb
    curation step the detection-only queries stop short of): chunk each
    doc into aligned 10-word windows, flag any chunk whose digest
    appears in ≥3 distinct docs (license headers, navigation chrome,
    template frames), drop those chunks and REBUILD the document from
    the survivors in position order — emitting the cleaned text's
    digest/length plus kept/total chunk counts. The synthetic corpus
    has no natural cross-doc 10-grams, so a 20-word license header is
    planted on every doc_id%4==1 (~25% of docs ≥ 3): the header chunks
    are detected and stripped, and because 20 words = exactly two
    chunks, a planted doc's clean text equals its ORIGINAL text —
    pinned by pytest, replayed exactly by the oracle.

    Scale shape: chunking is a narrow per-doc fan-out; the digest
    frequency table is a map-side-combined hash agg over 40-byte
    digests; the boilerplate set (rare survivors of HAVING ≥3)
    broadcasts into an anti-join; the rebuild is one doc-keyed
    aggregate with an in-memory array_sort — no global sort, payload
    never shuffles twice."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    src = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit(_BOILER_LICENSE + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    w = src.select("doc_id", F.split("text", " ").alias("words"))
    c = w.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("words") / F.lit(_BOILER_CHUNK)).cast("long") - 1,
            )
        ).alias("pos"),
        "words",
    ).select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ",
            F.slice(
                F.col("words"),
                F.col("pos") * _BOILER_CHUNK + 1,
                _BOILER_CHUNK,
            ),
        ).alias("chunk"),
    )
    boiler = (
        c.groupBy(F.md5("chunk").alias("dg"))
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BOILER_MIN_DOCS)
        .select("dg")
    )
    k = c.join(
        F.broadcast(boiler), F.md5(F.col("chunk")) == F.col("dg"), "left_anti"
    )
    tot = c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    reb = (
        k.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sort_array(F.collect_list(F.struct("pos", "chunk"))).alias("a"),
        )
        .select(
            "doc_id",
            "n_kept",
            F.concat_ws(
                " ", F.expr("transform(a, x -> x.chunk)")
            ).alias("clean"),
        )
    )
    return tot.join(reb, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.md5(F.coalesce("clean", F.lit(""))).alias("clean_digest"),
        F.length(F.coalesce("clean", F.lit(""))).cast("bigint").alias(
            "clean_chars"
        ),
    )


@register(
    "association_rules_copurchase",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    ic AS (SELECT l_partkey, count(*) AS n_item FROM li GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey pa, b.l_partkey pb, count(*) AS n_ab
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    j AS (
      SELECT pa, pb, n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
        round(CAST(n_ab AS DOUBLE) / n_orders, 6) AS support,
        round(((CAST(n_ab AS DOUBLE) / ia.n_item) / ib.n_item)
              * n_orders, 6) AS lift
      FROM pairs JOIN ic ia ON ia.l_partkey = pa
                 JOIN ic ib ON ib.l_partkey = pb, n
    )
    SELECT ant, cons, CAST(n_ab AS BIGINT) AS n_ab,
      CAST(n_ant AS BIGINT) AS n_ant,
      round(CAST(n_ab AS DOUBLE) / n_ant, 6) AS confidence,
      support, lift
    FROM (
      SELECT pa AS ant, pb AS cons, n_ab, n_a AS n_ant, support, lift FROM j
      UNION ALL
      SELECT pb, pa, n_ab, n_b, support, lift FROM j
    )
    """,
)
def q_association_rules_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: every
    directed rule ant → cons with co-occurrence support ≥ 3 orders,
    reporting support, confidence n_ab/n_ant, and (direction-agnostic)
    lift — the recommender/assortment primitive FP-growth produces,
    here at the pairwise level where the overwhelming share of retail
    rule value lives.

    Float discipline: all inputs are exact integers; support /
    confidence / lift are FIXED left-to-right IEEE chains written
    identically in both dialects, lift computed ONCE per canonical
    pair (a<b) before the two directed rules are emitted so both
    directions carry bit-identical lift.

    Scale shape: baskets self-join per order — quadratic only in
    BASKET size (bounded: a customer order has dozens of items, not
    millions), one keyed exchange into pair counts with map-side
    partials; the support floor prunes before the item-count joins
    (hash equi-joins on the item key — the item vocab of a 100 TB
    ledger does not broadcast); N attaches as a 1-row broadcast. The
    two rule directions explode from one struct array — the pair table
    is scanned once."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    ic = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    pairs = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    j = (
        pairs.join(
            ic.select(
                F.col("l_partkey").alias("pa"), F.col("n_item").alias("n_a")
            ),
            "pa",
        )
        .join(
            ic.select(
                F.col("l_partkey").alias("pb"), F.col("n_item").alias("n_b")
            ),
            "pb",
        )
        .crossJoin(F.broadcast(n))
        .withColumn(
            "support",
            F.round(F.col("n_ab").cast("double") / F.col("n_orders"), 6),
        )
        .withColumn(
            "lift",
            F.round(
                (F.col("n_ab").cast("double") / F.col("n_a")) / F.col("n_b")
                * F.col("n_orders"),
                6,
            ),
        )
    )
    rules = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("ant"),
                    F.col("pb").alias("cons"),
                    F.col("n_a").alias("n_ant"),
                ),
                F.struct(
                    F.col("pb").alias("ant"),
                    F.col("pa").alias("cons"),
                    F.col("n_b").alias("n_ant"),
                ),
            )
        ).alias("r"),
        "n_ab",
        "support",
        "lift",
    )
    return rules.select(
        F.col("r.ant").alias("ant"),
        F.col("r.cons").alias("cons"),
        F.col("n_ab").cast("long").alias("n_ab"),
        F.col("r.n_ant").cast("long").alias("n_ant"),
        F.round(
            F.col("n_ab").cast("double") / F.col("r.n_ant"), 6
        ).alias("confidence"),
        "support",
        "lift",
    )


@register(
    "source_token_tv_divergence",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    c AS (SELECT source, w, count(*) AS cnt FROM tok GROUP BY 1, 2),
    t AS (SELECT source, CAST(sum(cnt) AS DECIMAL(38,0)) AS tot FROM c GROUP BY 1),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
        ta.tot AS tot_a, tb.tot AS tot_b,
        sum(abs(CAST(a.cnt AS DECIMAL(38,0)) * tb.tot
                - CAST(b.cnt AS DECIMAL(38,0)) * ta.tot)) AS s_abs,
        sum(CAST(a.cnt AS DECIMAL(38,0)) * tb.tot) AS s_a,
        sum(CAST(b.cnt AS DECIMAL(38,0)) * ta.tot) AS s_b
      FROM c a JOIN c b ON a.w = b.w AND a.source < b.source
      JOIN t ta ON ta.source = a.source
      JOIN t tb ON tb.source = b.source
      GROUP BY 1, 2, 3, 4
    )
    SELECT source_a, source_b,
      round((CAST(CAST(s_abs AS VARCHAR) AS DOUBLE)
             + (CAST(CAST(tot_a * tot_b AS VARCHAR) AS DOUBLE)
                - CAST(CAST(s_a AS VARCHAR) AS DOUBLE))
             + (CAST(CAST(tot_a * tot_b AS VARCHAR) AS DOUBLE)
                - CAST(CAST(s_b AS VARCHAR) AS DOUBLE)))
            / (2 * CAST(CAST(tot_a * tot_b AS VARCHAR) AS DOUBLE)), 6)
        AS tv_distance
    FROM pairs
    """,
)
def q_source_token_tv_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise total-variation distance between per-source unigram
    distributions — the mixture-drift diagnostic that tells a corpus
    curator WHICH sources speak a different language distributionally
    (feeding mixture re-weighting / dedup-across-sources decisions),
    complementing source_overlap_matrix (shared users) with shared
    VOCABULARY shape.

    Exactness: TV = ½Σ|p−q| over the UNION of supports, computed from
    the shared support only via ½(Σ_shared|p−q| + (1−Σ_shared p) +
    (1−Σ_shared q)) — and every term is EXACT INTEGER arithmetic in
    fixed-point: |cnt_a·tot_b − cnt_b·tot_a| summed as DECIMAL(38,0)
    (associative, partition-order-proof), one double division at the
    end. No missing-word outer join, no float accumulation.

    Scale shape: one (source, word) count aggregate (map-side
    partials), the pair generation is an inverted-index join keyed on
    the WORD (fan-out per word = sources containing it, ≤ |sources| —
    never a doc-level or cross-source cartesian), then a |source-pair|
    aggregate. Totals attach by source key. |sources|² output rows."""
    from pyspark.sql import functions as F

    from ..operators.text import token_tv_divergence

    return token_tv_divergence(load_table(spark, sf_dir, "documents")).select(
        F.col("group_a").alias("source_a"),
        F.col("group_b").alias("source_b"),
        "tv_distance",
    )


@register(
    "order_sla_ship_delay",
    """
    WITH d AS (
      SELECT o.o_orderpriority,
        CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS BIGINT) AS delay_d
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
      CAST(count(*) AS BIGINT) AS n_lines,
      CAST(sum(delay_d) AS BIGINT) AS sum_delay_d,
      round(CAST(sum(delay_d) AS DOUBLE) / count(*), 6) AS avg_delay_d,
      round(CAST(sum(CASE WHEN delay_d <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 6) AS sla30_hit_rate
    FROM d GROUP BY o_orderpriority
    """,
)
def q_order_sla_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA report: ship delay (days from order to line
    ship) per order priority — average delay and the 30-day SLA hit
    rate, the operations dashboard behind "are URGENT orders actually
    shipping faster". Integer day-diffs (calendar dates both engines),
    integer sums, two final divisions.

    Scale shape: the orders ⋈ lineitem fact-fact join hash-partitions
    on the order key (the bucketed-table twin elides even that —
    sources/bucketed.py), then a ≤ |priorities|-group aggregate with
    map-side partials. One wide exchange total."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("delay_d"),
    )
    return d.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("delay_d").cast("long").alias("sum_delay_d"),
        F.round(
            F.sum("delay_d").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_delay_d"),
        F.round(
            F.sum(F.when(F.col("delay_d") <= 30, 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("sla30_hit_rate"),
    )


@register(
    "abc_pareto_parts",
    """
    WITH rev AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS x
      FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, x,
        sum(x) OVER (ORDER BY x DESC, l_partkey ASC
                     ROWS UNBOUNDED PRECEDING) AS cum,
        sum(x) OVER () AS tot
      FROM rev
    ),
    classed AS (
      SELECT CASE
        WHEN CAST(CAST(cum AS VARCHAR) AS DOUBLE)
             <= 0.8 * CAST(CAST(tot AS VARCHAR) AS DOUBLE) THEN 'A'
        WHEN CAST(CAST(cum AS VARCHAR) AS DOUBLE)
             <= 0.95 * CAST(CAST(tot AS VARCHAR) AS DOUBLE) THEN 'B'
        ELSE 'C' END AS abc_class,
        x, tot
      FROM ranked
    )
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
      round(CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE)
            / CAST(CAST(max(tot) AS VARCHAR) AS DOUBLE), 6)
        AS revenue_share
    FROM classed GROUP BY abc_class
    """,
)
def q_abc_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: A = parts
    whose descending cumulative revenue stays within 80% of total,
    B = next 15%, C = tail — the inventory-policy segmentation (count
    every A-part daily, C-parts quarterly), and the corpus analogue of
    "how few domains carry most of the tokens".

    Float discipline: revenue and its cumulative sum are exact
    DECIMALS (associative; the class boundary compares VARCHAR-hopped
    doubles of identical operands against exact-dyadic 0.8/0.95
    factors); per-class rollups are decimal sums with one final
    division.

    Scale shape: per-part aggregate (one keyed exchange), the global
    DESCENDING cumulative sum via the two-pass range-partitioned form
    (operators/ranking.global_running_sum — per-partition cumsum +
    broadcast triangular offsets, no single-partition window), then a
    3-group rollup. The oracle's OVER () is the SQL spelling."""
    from ..operators.ranking import global_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias("x")
    )
    ranked = global_running_sum(
        rev.withColumn("_negx", -F.col("x")),
        ["_negx", "l_partkey"],
        "x",
        out_col="cum",
    )
    tot = rev.agg(F.sum("x").alias("tot"))
    cumd = F.col("cum").cast("string").cast("double")
    totd = F.col("tot").cast("string").cast("double")
    classed = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "abc_class",
        F.when(cumd <= 0.8 * totd, "A")
        .when(cumd <= 0.95 * totd, "B")
        .otherwise("C"),
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.round(
            F.sum("x").cast("string").cast("double")
            / F.max("tot").cast("string").cast("double"),
            6,
        ).alias("revenue_share"),
    )


#: total sample budget apportioned across sources by token share.
_APPORTION_BUDGET = 100_000


@register(
    "apportion_sample_budget",
    f"""
    WITH s AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM s),
    q AS (
      SELECT source, tokens,
        ({_APPORTION_BUDGET} * tokens) // t.total AS base,
        ({_APPORTION_BUDGET} * tokens) % t.total AS rem
      FROM s CROSS JOIN t
    ),
    r AS (
      SELECT source, tokens, base, rem,
        row_number() OVER (ORDER BY rem DESC, source) AS rk,
        sum(base) OVER () AS base_total
      FROM q
    )
    SELECT source, tokens,
      CAST(base + CASE WHEN rk <= {_APPORTION_BUDGET} - base_total
                       THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM r
    """,
)
def q_apportion_sample_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed sample
    budget across sources proportional to token mass — the exact
    integer answer to "how many samples does each source get" that
    naive rounding gets wrong (floors under-allocate, rounds can
    overshoot the budget). Each source takes floor(B·tokens/total);
    the leftover B − Σfloor seats go one each to the largest
    remainders (ties broken by source name), so Σalloc = B exactly, by
    construction — an invariant every downstream mixture sampler
    depends on. All arithmetic is BIGINT (bound: B·tokens ≤ 9e18, i.e.
    ≤ 9e13 tokens per source at B = 1e5; raise to DECIMAL beyond).

    Scale shape: one (source) hash aggregate over the corpus — the
    only full-table work; apportionment runs on the |sources|-row
    frame (windows over ≤ dozens of rows)."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.sum("n_chars").alias("tokens"))
    t = s.agg(F.sum("tokens").alias("total"))
    q = s.crossJoin(F.broadcast(t)).select(
        "source",
        "tokens",
        F.expr(f"({_APPORTION_BUDGET} * tokens) div total").alias("base"),
        (F.lit(_APPORTION_BUDGET) * F.col("tokens") % F.col("total")).alias(
            "rem"
        ),
    )
    w = Window.partitionBy(F.lit(1))
    r = q.select(
        "source",
        "tokens",
        "base",
        F.row_number()
        .over(w.orderBy(F.col("rem").desc(), F.col("source")))
        .alias("rk"),
        F.sum("base").over(w).alias("base_total"),
    )
    alloc = F.col("base") + F.when(
        F.col("rk") <= F.lit(_APPORTION_BUDGET) - F.col("base_total"), 1
    ).otherwise(0)
    return r.select(
        "source", "tokens", alloc.cast("bigint").alias("alloc")
    )


@register(
    "quantile_normalize_by_source",
    """
    WITH g AS (
      SELECT n_chars,
        row_number() OVER (ORDER BY n_chars, doc_id) AS gpos
      FROM documents
    ),
    s AS (
      SELECT doc_id, source, n_chars,
        row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
          AS r,
        count(*) OVER (PARTITION BY source) AS ns
      FROM documents
    ),
    n AS (SELECT count(*) AS ng FROM documents)
    SELECT s.doc_id, s.source, s.n_chars, g.n_chars AS norm_chars
    FROM s CROSS JOIN n
    JOIN g ON g.gpos = (s.r * n.ng + s.ns - 1) // s.ns
    """,
)
def q_quantile_normalize_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of per-source length distributions onto
    the GLOBAL distribution: a doc at within-source rank r (of n_s) is
    assigned the global order statistic at position ceil(r·N/n_s) —
    after normalization every source has the same length distribution,
    the standard pre-processing step before cross-source quality
    comparisons (a source of long documents no longer dominates a
    length-sensitive score). The position map is exact integer
    arithmetic with a unique (n_chars, doc_id) tie-break, so both
    engines pick identical order statistics (BIGINT bound:
    r·N ≤ 9e18, i.e. ≈3e9 docs; DECIMAL beyond).

    Scale shape: two TWO-PASS global row numberings (range exchange +
    triangular offsets; operators/ranking.py) — one global, one in
    (source, key) order with per-source starts from a |sources|²
    triangular broadcast join (never a per-source window, since a
    single source can be most of the corpus) — then one equi-join on
    the computed position. Three corpus-sized exchanges total."""
    from ..operators.ranking import global_row_number

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    g = global_row_number(docs, ["n_chars", "doc_id"], rn_col="gpos").select(
        F.col("gpos"), F.col("n_chars").alias("norm_chars")
    )
    sn = global_row_number(
        docs, ["source", "n_chars", "doc_id"], rn_col="srn_g"
    )
    tot = docs.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    a, b = tot.alias("a"), tot.alias("b")
    off = (
        a.join(F.broadcast(b), F.col("b.source") < F.col("a.source"), "left")
        .groupBy(F.col("a.source").alias("source"))
        .agg(
            F.coalesce(F.sum("b.ns"), F.lit(0)).alias("off"),
            F.first("a.ns").alias("ns"),
        )
    )
    s = sn.join(F.broadcast(off), "source").select(
        "doc_id",
        "source",
        "n_chars",
        (F.col("srn_g") - F.col("off")).alias("r"),
        "ns",
        F.col("_total_n").alias("ng"),
    )
    pos = F.expr("(r * ng + ns - 1) div ns")
    return s.join(g, pos == F.col("gpos")).select(
        "doc_id", "source", "n_chars", "norm_chars"
    )


@register(
    "gopher_quality_rules",
    """
    WITH d AS (
      SELECT source,
        len(string_split(text, ' ')) AS nw,
        len(list_distinct(string_split(text, ' '))) AS ndw,
        length(text) AS nc
      FROM documents WHERE length(text) > 0
    ),
    f AS (
      SELECT source,
        CASE WHEN nw >= 20 THEN 1 ELSE 0 END AS ok_wc,
        CASE WHEN nc - nw + 1 >= 3 * nw
              AND 10 * (nc - nw + 1) <= 51 * nw THEN 1 ELSE 0 END AS ok_mwl,
        CASE WHEN 10 * ndw >= 3 * nw THEN 1 ELSE 0 END AS ok_dr
      FROM d
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(ok_wc * ok_mwl * ok_dr) AS BIGINT) AS n_pass,
      CAST(sum(1 - ok_wc) AS BIGINT) AS n_fail_wordcount,
      CAST(sum(1 - ok_mwl) AS BIGINT) AS n_fail_meanwordlen,
      CAST(sum(1 - ok_dr) AS BIGINT) AS n_fail_distinctratio
    FROM f GROUP BY source
    """,
)
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule-based quality gate, reported per source:
    word count ≥ 20, mean word length in [3.0, 5.1], distinct-word
    ratio ≥ 0.3 — the cheap pre-filter a training pipeline runs before
    any model-scored quality pass (quality_classifier_scores /
    quality_logit_frozen are the expensive siblings). Every rule is an
    EXACT INTEGER comparison (mean-word-length band as
    nc−nw+1 ≥ 3·nw and 10·(nc−nw+1) ≤ 51·nw; distinct ratio as
    10·ndw ≥ 3·nw) so no float boundary can flip a doc between
    engines. Non-vacuous on the synthetic corpus: at sf0.01, 43 docs
    fail the word-count rule and 8 fail distinct-ratio.

    Scale shape: narrow per-row derivation over the scan (split +
    array_distinct, no shuffle), one (source) hash aggregate."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    w = F.split(F.col("text"), " ")
    d = docs.select(
        "source",
        F.size(w).alias("nw"),
        F.size(F.array_distinct(w)).alias("ndw"),
        F.length("text").alias("nc"),
    )
    mw_num = F.col("nc") - F.col("nw") + 1
    f = d.select(
        "source",
        F.when(F.col("nw") >= 20, 1).otherwise(0).alias("ok_wc"),
        F.when(
            (mw_num >= 3 * F.col("nw")) & (10 * mw_num <= 51 * F.col("nw")),
            1,
        )
        .otherwise(0)
        .alias("ok_mwl"),
        F.when(10 * F.col("ndw") >= 3 * F.col("nw"), 1)
        .otherwise(0)
        .alias("ok_dr"),
    )
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("ok_wc") * F.col("ok_mwl") * F.col("ok_dr"))
        .cast("bigint")
        .alias("n_pass"),
        F.sum(1 - F.col("ok_wc")).cast("bigint").alias("n_fail_wordcount"),
        F.sum(1 - F.col("ok_mwl")).cast("bigint").alias("n_fail_meanwordlen"),
        F.sum(1 - F.col("ok_dr")).cast("bigint").alias("n_fail_distinctratio"),
    )


@register(
    "context_fit_report",
    """
    WITH d AS (
      SELECT source, len(string_split(text, ' ')) AS nw
      FROM documents WHERE length(text) > 0
    ),
    ctx AS (SELECT unnest([16, 32, 64, 128]) AS ctx)
    SELECT source, CAST(ctx AS INT) AS ctx,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(CASE WHEN nw <= ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_fit,
      CAST(sum(CASE WHEN nw > ctx THEN nw - ctx ELSE 0 END) AS BIGINT)
        AS waste_tokens
    FROM d, ctx GROUP BY source, ctx
    """,
)
def q_context_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window fit audit: for each candidate context length,
    how many docs per source fit whole and how many tokens a
    truncate-to-fit policy would discard — the sizing study behind
    pack_shards_token_budget (which packs; this one reports what
    packing/truncation costs at each context size). Whitespace tokens
    (the corpus's exact tokenization); all-integer output.

    Scale shape: per-row token count over the scan, a 4-row broadcast
    context grid (explode of a literal array — rows × 4, never a
    shuffle amplification), one (source, ctx) hash aggregate."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    d = docs.select(
        "source", F.size(F.split(F.col("text"), " ")).alias("nw")
    )
    e = d.withColumn(
        "ctx", F.explode(F.array(*[F.lit(c) for c in (16, 32, 64, 128)]))
    )
    return e.groupBy("source", F.col("ctx").cast("int").alias("ctx")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("nw") <= F.col("ctx"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_fit"),
        F.sum(
            F.when(
                F.col("nw") > F.col("ctx"), F.col("nw") - F.col("ctx")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("waste_tokens"),
    )


@register(
    "shingle_containment_pairs",
    """
    WITH d0 AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w
      FROM documents WHERE len(string_split(text, ' ')) >= 4
    ),
    s AS (
      SELECT doc_id, lang, w[1] AS w1,
        list_distinct(list_transform(range(1, len(w) - 2),
          i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]))) AS sh
      FROM d0
    ),
    ok AS (
      SELECT lang, w1 FROM s GROUP BY 1, 2
      HAVING count(*) BETWEEN 2 AND 1000
    ),
    d AS (SELECT s.* FROM s JOIN ok USING (lang, w1))
    SELECT doc_a, doc_b, cont_a, cont_b, n_sh_a, n_sh_b FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        len(list_intersect(a.sh, b.sh)) AS inter,
        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(a.sh), 6) AS cont_a,
        round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(b.sh), 6) AS cont_b,
        CAST(len(a.sh) AS INT) AS n_sh_a, CAST(len(b.sh) AS INT) AS n_sh_b
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.w1 = b.w1 AND a.doc_id < b.doc_id
    )
    WHERE 2 * inter >= n_sh_a OR 2 * inter >= n_sh_b
    """,
)
def q_shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment detection: word-4-gram shingle sets,
    pair (a, b) surfaces when ≥ half of EITHER doc's shingles appear
    in the other — the quote/subset relation Jaccard-based near-dup
    (dedup_minhash_lsh, ngram_jaccard_pairs) systematically misses,
    because a short doc fully contained in a long one has low Jaccard
    but containment 1.0. Blocked by (lang, first token) with the
    fuzzy_prefix_pairs r8 guard verbatim: salted sub-collect →
    window-sum block size → drop mega-blocks BEFORE materializing →
    flatten survivors (≤ 1000 members) sorted by doc_id → in-block
    i<j pair generation in codegen → array_intersect post-explode.
    The ≥½ thresholds are exact integer compares (2·|∩| vs |S|); the
    reported containments are round-6 ratios of identical integers.

    Shingles are hashed to int64 (xxhash64) BEFORE the block
    collect_list (r9, the fix for the r8 superlinear scale probe): the
    block payloads used to carry full word-4-gram STRING arrays —
    tens of MB per block row at scale, and the probe showed the
    collect+flatten stage's allocation/GC cost going superlinear at
    10× data. 8-byte longs cut the payload ~10× and make
    array_intersect integer compares. The oracle needs NO mirror hash:
    every output column is a set SIZE (|∩|, |S_a|, |S_b|), and
    |hash(A) ∩ hash(B)| == |A ∩ B| for any injective hash — a 64-bit
    within-block collision is the only failure mode (P ≈ n²/2⁶⁴,
    negligible at the ≤1000-member block cap).

    Scale shape: ONE text scan, ONE shuffle of (doc_id, hash-array)
    structs; pair volume bounded by Σ block² with the block cap; the
    repartition spreads the O(block²) intersect compute. At 100 TB the
    block key coarsens to an LSH band, same skeleton."""
    docs = load_table(spark, sf_dir, "documents")
    return shingle_containment_core(spark, docs)


def shingle_containment_core(
    spark: SparkSession, docs: DataFrame
) -> DataFrame:
    """Query core of shingle_containment_pairs over an arbitrary docs
    frame (doc_id, lang, text) — split out so the salted-replica scale
    probe (NOTES.md "r9: shingle_containment_pairs made scale-linear")
    measured the EXACT registered plan, not a copy that can drift."""
    w = F.split(F.col("text"), " ")
    d0 = docs.select("doc_id", "lang", w.alias("w")).filter(
        F.size("w") >= 4
    )
    s = d0.select(
        "doc_id",
        "lang",
        F.col("w")[0].alias("w1"),
        # distinct on the HASHES: string-level duplicates collide by
        # construction, so this equals hashing the distinct strings
        F.expr(
            "array_distinct(transform(sequence(0, size(w) - 4), "
            "i -> xxhash64(concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3]))))"
        ).alias("sh"),
    )
    sub = s.groupBy(
        "lang", "w1", F.pmod("doc_id", F.lit(64)).alias("_salt")
    ).agg(
        F.collect_list(F.struct("doc_id", "sh")).alias("sub"),
        F.count(F.lit(1)).alias("cnt"),
    )
    blocks = (
        sub.withColumn(
            "total", F.sum("cnt").over(Window.partitionBy("lang", "w1"))
        )
        .filter((F.col("total") >= 2) & (F.col("total") <= 1000))
        .groupBy("lang", "w1")
        .agg(F.sort_array(F.flatten(F.collect_list("sub"))).alias("m"))
    )
    pairs = blocks.repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(m, (x, i) -> "
                    "transform(slice(m, i + 2, size(m) - i - 1), "
                    "y -> struct(x.doc_id as doc_a, y.doc_id as doc_b, "
                    "x.sh as sa, y.sh as sb)))"
                )
            )
        ).alias("pr")
    )
    inter = F.size(F.array_intersect(F.col("pr.sa"), F.col("pr.sb")))
    na, nb = F.size("pr.sa"), F.size("pr.sb")
    return (
        pairs.select(
            F.col("pr.doc_a").alias("doc_a"),
            F.col("pr.doc_b").alias("doc_b"),
            inter.alias("inter"),
            F.round(inter.cast("double") / na, 6).alias("cont_a"),
            F.round(inter.cast("double") / nb, 6).alias("cont_b"),
            na.cast("int").alias("n_sh_a"),
            nb.cast("int").alias("n_sh_b"),
        )
        .filter(
            (2 * F.col("inter") >= F.col("n_sh_a"))
            | (2 * F.col("inter") >= F.col("n_sh_b"))
        )
        .drop("inter")
    )


@register(
    "dirichlet_lm_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE length(text) > 0
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
           FROM toks GROUP BY doc_id),
    ct AS (SELECT CAST(count(*) AS BIGINT) AS ctot FROM toks),
    q AS (SELECT unnest(['spark', 'stream', 'join']) AS tok),
    cf AS (
      SELECT q.tok, CAST(count(*) AS BIGINT) AS cf
      FROM toks JOIN q USING (tok) GROUP BY q.tok
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM toks JOIN q USING (tok) GROUP BY doc_id, tok
    ),
    scored AS (
      SELECT dl.doc_id,
        sum(ln((CAST(coalesce(tf.tf, 0) AS DOUBLE)
                + 1000.0 * CAST(cf.cf AS DOUBLE) / CAST(ct.ctot AS DOUBLE))
               / (CAST(dl.len AS DOUBLE) + 1000.0))) AS score
      FROM dl CROSS JOIN cf CROSS JOIN ct
      LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.tok = cf.tok
      GROUP BY dl.doc_id
    )
    SELECT doc_id, round(score, 6) AS score,
      CAST(row_number() OVER (ORDER BY round(score, 6) DESC, doc_id)
           AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 20
    """,
)
def q_dirichlet_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (μ=1000):
    score(d) = Σ_t ln((tf_dt + μ·cf_t/|C|) / (len_d + μ)) for the
    fixed 3-term query — the language-model ranking that complements
    bm25_topk (BM25's probabilistic-IDF cousin; Dirichlet LM is the
    standard baseline the IR literature pairs it with). Every input
    (tf, cf, len, |C|) is an exact BIGINT; both engines evaluate one
    shared double expression per (doc, term) and sum 3 terms — the
    only order-sensitive float step, ~1e-15 spread vs the round(6)
    gate. Top-20 cut on the ROUNDED score (tie-break doc_id) so the
    cut is identical cross-engine.

    Scale shape: one token explode feeding three hash aggs (doc
    length, corpus total, per-term tf — tf only for the 3 query
    terms, filtered by a broadcast semi-join before the agg); the
    doc×term grid is |docs|×3 via broadcast cross join; top-20 via
    orderBy().limit() — TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("len"))
    ct = toks.agg(F.count(F.lit(1)).alias("ctot"))
    q = spark.createDataFrame(
        [("spark",), ("stream",), ("join",)], "tok string"
    )
    qtoks = toks.join(F.broadcast(q), "tok")
    cf = qtoks.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))
    tf = qtoks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    grid = (
        dl.crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(ct))
        .join(tf, ["doc_id", "tok"], "left")
    )
    term = F.log(
        (
            F.coalesce(F.col("tf"), F.lit(0)).cast("double")
            + F.lit(1000.0) * F.col("cf").cast("double")
            / F.col("ctot").cast("double")
        )
        / (F.col("len").cast("double") + F.lit(1000.0))
    )
    scored = grid.groupBy("doc_id").agg(
        F.round(F.sum(term), 6).alias("score")
    )
    top = scored.orderBy(F.desc("score"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    )


@register(
    "js_source_divergence",
    """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE length(text) > 0
    ),
    cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2),
    tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
            FROM cnt GROUP BY source),
    vocab AS (SELECT DISTINCT tok FROM cnt),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, a.n AS na, b.n AS nb
      FROM tot a JOIN tot b ON a.source < b.source
    ),
    grid AS (
      SELECT p.src_a, p.src_b, v.tok,
        CAST(coalesce(ca.c, 0) AS DOUBLE) / p.na AS pa,
        CAST(coalesce(cb.c, 0) AS DOUBLE) / p.nb AS pb
      FROM pairs p CROSS JOIN vocab v
      LEFT JOIN cnt ca ON ca.source = p.src_a AND ca.tok = v.tok
      LEFT JOIN cnt cb ON cb.source = p.src_b AND cb.tok = v.tok
    )
    SELECT src_a, src_b,
      round(sum(
        CASE WHEN pa > 0
          THEN 0.5 * pa * log2(pa / ((pa + pb) / 2.0)) ELSE 0.0 END
        + CASE WHEN pb > 0
          THEN 0.5 * pb * log2(pb / ((pa + pb) / 2.0)) ELSE 0.0 END
      ), 6) AS js_divergence
    FROM grid GROUP BY src_a, src_b
    """,
)
def q_js_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source token
    distributions — the SYMMETRIC, always-finite drift measure that
    complements source_token_tv_divergence (TV is the L1 geometry; JS
    is the information geometry, the standard corpus-mixture distance
    in data-curation papers). JS(P,Q) = ½Σ p·log2(p/m) + ½Σ q·log2(q/m)
    with m=(p+q)/2, in bits (log2), ∈ [0,1]. Probabilities are ratios
    of exact BIGINT counts; the per-token float terms are identical
    cross-engine, and the vocab-sized sum's order spread (~1e-15)
    sits far under the round(6) gate.

    Scale shape: one token-explode hash agg, a |sources|² broadcast
    pair grid × the bounded vocab (dims×dims×vocab, never row-scale),
    two broadcast lookups, one (pair) hash agg."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    cnt = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    vocab = cnt.select("tok").distinct()
    a, b = tot.alias("a"), tot.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.source") < F.col("b.source")
    ).select(
        F.col("a.source").alias("src_a"),
        F.col("b.source").alias("src_b"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
    )
    ca = cnt.select(
        F.col("source").alias("src_a"),
        F.col("tok"),
        F.col("c").alias("c_a"),
    )
    cb = cnt.select(
        F.col("source").alias("src_b"),
        F.col("tok"),
        F.col("c").alias("c_b"),
    )
    grid = (
        pairs.crossJoin(F.broadcast(vocab))
        .join(F.broadcast(ca), ["src_a", "tok"], "left")
        .join(F.broadcast(cb), ["src_b", "tok"], "left")
        .select(
            "src_a",
            "src_b",
            (
                F.coalesce(F.col("c_a"), F.lit(0)).cast("double")
                / F.col("na")
            ).alias("pa"),
            (
                F.coalesce(F.col("c_b"), F.lit(0)).cast("double")
                / F.col("nb")
            ).alias("pb"),
        )
    )
    m = (F.col("pa") + F.col("pb")) / F.lit(2.0)
    term = F.when(
        F.col("pa") > 0, F.lit(0.5) * F.col("pa") * F.log2(F.col("pa") / m)
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("pb") > 0, F.lit(0.5) * F.col("pb") * F.log2(F.col("pb") / m)
    ).otherwise(F.lit(0.0))
    return grid.groupBy("src_a", "src_b").agg(
        F.round(F.sum(term), 6).alias("js_divergence")
    )


@register(
    "lexical_density_by_source",
    """
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE length(text) > 0
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
      CAST(sum(CASE WHEN tok IN ('the', 'a', 'of', 'and', 'or', 'to',
                                 'in', 'is', 'on', 'for')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_function,
      round(1.0 - CAST(sum(CASE WHEN tok IN ('the', 'a', 'of', 'and',
                                             'or', 'to', 'in', 'is',
                                             'on', 'for')
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
        AS lexical_density
    FROM toks GROUP BY source
    """,
)
def q_lexical_density_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical density per source: the share of content (non-function)
    tokens — the classic text-quality signal (low density = boilerplate
    / navigational sludge; text_profile's stopword ratio is the
    per-doc sibling, this is the corpus-mix view). Fixed 10-word
    function list in-plan; counts exact BIGINT, one round-6 ratio.

    Scale shape: token explode into ONE (source) hash aggregate with
    map-side combine — the IN list evaluates at the scan, no second
    pass, no join."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    stop = ("the", "a", "of", "and", "or", "to", "in", "is", "on", "for")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    isf = F.when(F.col("tok").isin(*stop), 1).otherwise(0)
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(isf).cast("bigint").alias("n_function"),
        F.round(
            F.lit(1.0) - F.sum(isf).cast("double") / F.count(F.lit(1)), 6
        ).alias("lexical_density"),
    )


@register(
    "kl_surprise_docs",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE length(text) > 0
    ),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len
           FROM tf GROUP BY doc_id),
    cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY tok),
    ct AS (SELECT CAST(sum(cf) AS BIGINT) AS ctot FROM cf),
    scored AS (
      SELECT tf.doc_id,
        round(sum((CAST(tf.tf AS DOUBLE) / dl.len)
                  * ln((CAST(tf.tf AS DOUBLE) / dl.len)
                       / (CAST(cf.cf AS DOUBLE) / ct.ctot))), 6) AS kl
      FROM tf JOIN dl USING (doc_id) JOIN cf USING (tok) CROSS JOIN ct
      GROUP BY tf.doc_id
    )
    SELECT doc_id, kl,
      CAST(row_number() OVER (ORDER BY kl DESC, doc_id) AS BIGINT) AS rank
    FROM scored QUALIFY rank <= 20
    """,
)
def q_kl_surprise_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document "surprise" — KL(doc unigram ‖ corpus unigram) —
    ranked top-20: the outlier-document detector a curation pipeline
    uses to surface off-distribution content (high KL = vocabulary
    unlike the corpus; bigram_lm_perplexity is the sequence-model
    sibling, this is the bag-of-words one; dirichlet_lm_topk reuses
    the same tf/cf/len machinery for retrieval). Every input is an
    exact BIGINT count; each doc's float sum spans its ≤|vocab|
    distinct tokens (~1e-15 order spread vs round 6); the top-20 cut
    ranks the ROUNDED score with doc_id tie-break.

    Scale shape: one token explode into (doc, tok) / (tok) / (doc)
    hash aggs; the per-term join hits only each doc's own distinct
    terms (posting-sized, never doc×vocab); top-20 via
    orderBy().limit() — TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("len"))
    cf = tf.groupBy("tok").agg(F.sum("tf").alias("cf"))
    ct = cf.agg(F.sum("cf").alias("ctot"))
    p = F.col("tf").cast("double") / F.col("len")
    q = F.col("cf").cast("double") / F.col("ctot")
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(cf), "tok")
        .crossJoin(F.broadcast(ct))
        .groupBy("doc_id")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl"))
    )
    top = scored.orderBy(F.desc("kl"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("kl"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


@register(
    "rank_biased_overlap_topk",
    """
    WITH d AS (
      SELECT doc_id, length(text) AS nc, len(string_split(text, ' ')) AS nw
      FROM documents WHERE length(text) > 0
    ),
    ra AS (
      SELECT doc_id, row_number() OVER (ORDER BY nc DESC, doc_id) AS r
      FROM d QUALIFY r <= 50
    ),
    rb AS (
      SELECT doc_id, row_number() OVER (ORDER BY nw DESC, doc_id) AS r
      FROM d QUALIFY r <= 50
    ),
    m AS (
      SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
        coalesce(ra.r, 999999) AS r_a, coalesce(rb.r, 999999) AS r_b
      FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
    ),
    depth AS (SELECT unnest(range(1, 51)) AS dp),
    ov AS (
      SELECT dp, CAST(sum(CASE WHEN r_a <= dp AND r_b <= dp
                          THEN 1 ELSE 0 END) AS BIGINT) AS inter
      FROM depth, m GROUP BY dp
    )
    SELECT CAST(50 AS INT) AS k,
      CAST(max(CASE WHEN dp = 50 THEN inter END) AS BIGINT) AS overlap_at_k,
      round(0.1 * sum(power(0.9, dp - 1) * inter / dp), 6) AS rbo
    FROM ov
    """,
)
def q_rank_biased_overlap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p=0.9, truncated at depth 50) between two
    document rankings — by character length vs by token count: the
    top-weighted ranking-agreement measure (Webber et al.) retrieval
    stacks use to compare rankers where Kendall/Spearman over-weight
    the tail (rrf_fusion_topk FUSES two rankings; RBO SCORES their
    agreement). Both rankings are integer-keyed with doc_id
    tie-breaks, so per-depth intersection counts are exact BIGINTs;
    the weighted sum spans 50 terms of identical per-term floats
    (power(0.9, d−1) on equal integer args).

    Scale shape: two TakeOrdered top-50s (never a corpus sort), a
    50×~100 broadcast depth grid, one (depth) hash agg, 1-row reduce."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    d = docs.select(
        "doc_id",
        F.length("text").alias("nc"),
        F.size(F.split(F.col("text"), " ")).alias("nw"),
    )

    def top50(col):
        t = d.orderBy(F.desc(col), "doc_id").limit(50)
        w = Window.orderBy(F.desc(col), "doc_id")
        return t.select(
            "doc_id", F.row_number().over(w).alias("r")
        )

    ra = top50("nc").select("doc_id", F.col("r").alias("r_a"))
    rb = top50("nw").select("doc_id", F.col("r").alias("r_b"))
    m = ra.join(rb, "doc_id", "full_outer").select(
        F.coalesce(F.col("r_a"), F.lit(999999)).alias("r_a"),
        F.coalesce(F.col("r_b"), F.lit(999999)).alias("r_b"),
    )
    depth = spark.range(1, 51).select(F.col("id").cast("int").alias("dp"))
    ov = (
        F.broadcast(depth)
        .crossJoin(m)
        .groupBy("dp")
        .agg(
            F.sum(
                F.when(
                    (F.col("r_a") <= F.col("dp"))
                    & (F.col("r_b") <= F.col("dp")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("inter")
        )
    )
    return ov.agg(
        F.lit(50).cast("int").alias("k"),
        F.max(F.when(F.col("dp") == 50, F.col("inter")))
        .cast("bigint")
        .alias("overlap_at_k"),
        F.round(
            F.lit(0.1)
            * F.sum(
                F.pow(F.lit(0.9), F.col("dp") - 1)
                * F.col("inter")
                / F.col("dp")
            ),
            6,
        ).alias("rbo"),
    )


@register(
    "video_shot_boundaries",
    """
    WITH d AS (
      SELECT doc_id, text,
        octet_length(CAST(text AS BLOB)) // 128 AS nf
      FROM documents
      WHERE strlen(text) = length(text)
        AND octet_length(CAST(text AS BLOB)) // 128 >= 2
    ),
    pairs AS (
      SELECT doc_id, text, CAST(k AS INT) AS frame_id
      FROM d, unnest(generate_series(1, nf - 1)) AS t(k)
    ),
    sads AS (
      SELECT doc_id, frame_id,
        CAST(list_sum(list_transform(range(1, 129),
          i -> abs(ascii(substr(text,
                     CAST((frame_id - 1) * 128 + i AS INT), 1))
                 - ascii(substr(text,
                     CAST(frame_id * 128 + i AS INT), 1)))))
          AS BIGINT) AS sad
      FROM pairs
    )
    SELECT doc_id, frame_id, sad,
      CAST(CASE WHEN sad > 128 * 28 THEN 1 ELSE 0 END AS INT)
        AS is_boundary
    FROM sads
    """,
)
def q_video_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the multimodal layout
    (operators/multimodal.py video_shot_boundaries): per consecutive
    128-byte frame pair, the exact integer SAD and the cut flag
    SAD > 128·28 (threshold at the measured median per-byte MAD ≈ 28,
    so boundaries split ~half/half at every SF — a rate-style knob,
    never an absolute-value one). The frame-differencing pass a video
    pipeline runs before expensive scene models; completes the
    multimodal family (image decode/resize, audio energy, frame
    sample) with the temporal-diff member.

    Exactness: pure integer byte arithmetic in vectorized numpy over
    Arrow batches, replayed BY VALUE by the DuckDB ascii(substr)
    oracle (ASCII payloads: char == byte positions; ragged tails
    excluded from both engines).

    Scale shape: narrow mapInPandas over the payload partitioning —
    zero shuffles; output is 4 small columns per frame pair, payload
    pruned."""
    from ..operators.multimodal import as_binary_payload, video_shot_boundaries

    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length("text") == F.length("text")  # ASCII: bytes==chars
    )
    return video_shot_boundaries(
        as_binary_payload(docs), frame_bytes=128, mad_threshold=28
    )
