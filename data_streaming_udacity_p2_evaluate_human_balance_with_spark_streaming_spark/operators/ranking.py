"""Scale-safe global ranking: two-pass range-partitioned row numbering
and the rank functions derived from it (NTILE, PERCENT_RANK, CUME_DIST).

The naive form — `Window.orderBy(...)` with no partition — funnels the
ENTIRE dataset through one task (Spark warns `WindowExec: No Partition
Defined`); fine at sf0.1, fatal at 100 TB. The classic distributed
alternative (Goetz Graefe's two-phase ranking; same construction as
Spark's own `zipWithIndex` on RDDs) is:

1. `repartitionByRange` on the sort key → partition p holds a
   contiguous key range, partitions ordered p0 < p1 < …;
2. per-partition local row_number (window PARTITIONED by the range
   partition id — parallel, no global funnel);
3. per-partition row counts (P rows, P = #partitions) → cumulative
   offsets via a tiny triangular self-join (P², driver-free, and no
   single-partition window even on the small side);
4. global_rn = offset[p] + local_rn.

Tie handling: rank/percent_rank/cume_dist are tie-aware; a groupBy on
the order key computes min/max global_rn per distinct key, joined back.
Every stage is a keyed shuffle or broadcast — nothing single-partition.

No ranking exists in the reference (it has no batch analytics at all,
SURVEY.md §2); this is north-star scale infrastructure for the ranking
queries in plans/queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _order_cols(order: list[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order]


def _pin(rp: DataFrame) -> DataFrame:
    """Pin the range-partitioned subtree so every branch sees the SAME
    partition boundaries.

    Both passes (local windows AND the per-partition counts/totals)
    reference the same `repartitionByRange(...).withColumn(_pid, ...)`
    node, but range boundaries come from sampling whose seed varies per
    materialized RDD, and spark_partition_id is nondeterministic — so if
    the exchange is ever executed more than once, the offsets can be
    built against different boundaries than the local row numbers,
    silently corrupting global ranks. AQE's exchange reuse USUALLY
    deduplicates the branches, but not reliably: measured on
    pack_shards_token_budget, one of the totals branches materialized
    its own second range exchange (column pruning diverged the
    canonical forms).

    r8: pinning is `localCheckpoint(eager=True)`, NOT `persist()`.
    persist()'s single-materialization guarantee turned out to be VOID
    whenever the input lineage contains a localCheckpoint (a LogicalRDD
    child): the cache lookup silently misses for the consumer plans and
    each branch re-runs the range exchange with freshly sampled
    boundaries — measured 5-8k corrupted running sums out of 10k rows,
    even with the persisted frame eagerly pre-materialized (see
    tests/test_scale_patterns.py::test_grs_checkpointed_input_exact and
    NOTES.md r8). Checkpointing rp itself freezes the partitioned ROWS
    as RDD blocks, so every consumer scans the same physical partitions
    and re-sampling is structurally impossible, for ANY input lineage.
    Tradeoff: lineage truncation means an executor loss fails the query
    instead of recomputing — strictly better than a recompute that
    silently corrupts ranks. The one extra eager job costs ~the
    materialization the first consumer paid anyway (isolated sf0.1
    timings unchanged within noise).

    Block lifetime (r9, ADVICE r8): unlike persist(), these
    checkpointed RDD blocks are NOT released by
    `spark.catalog.clearCache()` — they free when the last reference
    to the returned frame is dropped and the ContextCleaner runs
    (Python GC → py4j detach → JVM GC → cleaner). Verified empirically
    (NOTES.md "r9 end-state", `_pin release`): after clearCache alone
    2 blocks linger; after `gc.collect()` + `System.gc()` storage
    drains to 0 on every round — no accumulation across a long multi-query
    session. bench.py triggers exactly that pair at each pass
    boundary; looped harnesses holding query results across many
    ranking calls should do the same."""
    return rp.localCheckpoint(eager=True)


def global_row_number(
    df: DataFrame,
    order: list[Column | str],
    num_partitions: int | None = None,
    rn_col: str = "_global_rn",
) -> DataFrame:
    """Add a 1-based global row number in `order` without a
    single-partition window. Output also carries `_total_n` (the global
    row count, broadcast 1-row join) since every consumer (ntile,
    percent_rank, cume_dist) needs it.

    `order` columns must form a deterministic total order for the
    numbering itself to be deterministic (ties within a key get an
    arbitrary-but-stable order from the per-partition sort; the
    tie-aware rank functions below never expose that arbitrariness).
    """
    cols = _order_cols(order)
    rp = _pin(
        (
            df.repartitionByRange(num_partitions, *cols)
            if num_partitions
            else df.repartitionByRange(*cols)
        ).withColumn("_pid", F.spark_partition_id())
    )

    local = rp.withColumn(
        "_local_rn", F.row_number().over(Window.partitionBy("_pid").orderBy(*cols))
    )

    counts = rp.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_offset"))
    )
    total = counts.agg(F.sum("_cnt").alias("_total_n"))

    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(rn_col, F.col("_offset") + F.col("_local_rn"))
        .crossJoin(F.broadcast(total))
        .drop("_pid", "_local_rn", "_offset")
    )


def global_running_sum(
    df: DataFrame,
    order: list[Column | str],
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global cumulative SUM(value) in `order` (ROWS UNBOUNDED
    PRECEDING) without a single-partition window: per-range-partition
    cumsum + the triangular join over per-partition value totals. Same
    shape as global_row_number; the offsets table carries partition
    value sums instead of row counts."""
    cols = _order_cols(order)
    rp = _pin(
        (
            df.repartitionByRange(num_partitions, *cols)
            if num_partitions
            else df.repartitionByRange(*cols)
        ).withColumn("_pid", F.spark_partition_id())
    )

    local = rp.withColumn(
        "_local_sum",
        F.sum(value_col).over(
            Window.partitionBy("_pid")
            .orderBy(*cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    totals = rp.groupBy("_pid").agg(F.sum(value_col).alias("_ptotal"))
    a, b = totals.alias("a"), totals.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._ptotal"), F.lit(0)).alias("_offset"))
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_offset") + F.col("_local_sum"))
        .drop("_pid", "_local_sum", "_offset")
    )


def global_running_sum_row_number(
    df: DataFrame,
    order: list[Column | str],
    value_col: str,
    sum_col: str = "running_sum",
    rn_col: str = "_global_rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global cumulative SUM(value) AND 1-based global row number in
    `order`, in ONE two-pass sweep (r13, guide §2.4): callers that need
    both (the boundary-sweep queries — active_coverage_time joins a
    running coverage count to the next-boundary lookup by row number)
    previously ran global_running_sum and global_row_number separately,
    which computed and eagerly pinned the range-repartitioned input
    TWICE and then re-joined the two outputs on the order key. Here the
    per-partition window evaluates both functions over one sort, the
    counts/totals come from one (_pid) aggregate, and the triangular
    offset join carries both offsets — one range exchange, one pin, no
    recombining join. Values are identical to the two separate ops
    (`order` must be a total order, as global_row_number requires)."""
    cols = _order_cols(order)
    rp = _pin(
        (
            df.repartitionByRange(num_partitions, *cols)
            if num_partitions
            else df.repartitionByRange(*cols)
        ).withColumn("_pid", F.spark_partition_id())
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    local = rp.withColumn(
        "_local_sum",
        F.sum(value_col).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn("_local_rn", F.row_number().over(w))
    per = rp.groupBy("_pid").agg(
        F.sum(value_col).alias("_ptotal"), F.count(F.lit(1)).alias("_cnt")
    )
    a, b = per.alias("a"), per.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(
            F.coalesce(F.sum("b._ptotal"), F.lit(0)).alias("_soff"),
            F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_roff"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(sum_col, F.col("_soff") + F.col("_local_sum"))
        .withColumn(rn_col, F.col("_roff") + F.col("_local_rn"))
        .drop("_pid", "_local_sum", "_local_rn", "_soff", "_roff")
    )


def global_ntile(
    df: DataFrame,
    order: list[Column | str],
    n: int,
    out_col: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact NTILE(n) over a global order, two-pass. NTILE semantics
    (SQL standard, matches Spark/DuckDB): with N rows, the first
    N mod n tiles hold ceil(N/n) rows, the rest floor(N/n)."""
    rn = F.col("_global_rn")
    N = F.col("_total_n")
    base = (N / n).cast("bigint")  # floor: both positive
    rem = N % n
    big = (base + 1) * rem  # rows covered by the (base+1)-sized tiles
    tile = (
        F.when(rn <= big, ((rn - 1) / (base + 1)).cast("bigint") + 1)
        .otherwise(rem + ((rn - big - 1) / F.greatest(base, F.lit(1))).cast("bigint") + 1)
        .cast("int")
    )
    return (
        global_row_number(df, order, num_partitions=num_partitions)
        .withColumn(out_col, tile)
        .drop("_global_rn", "_total_n")
    )


def global_percent_rank_cume_dist(
    df: DataFrame,
    order: list[Column | str],
    pr_col: str = "pr",
    cd_col: str = "cd",
    num_partitions: int | None = None,
) -> DataFrame:
    """Tie-aware PERCENT_RANK and CUME_DIST over a global order,
    two-pass. rank(key) = min global_rn among equal keys and
    cume(key) = max global_rn, computed by a keyed groupBy joined back —
    so arbitrary tie order inside global_row_number never leaks:
    pr = (rank-1)/(N-1), cd = cume/N, exactly the window-function
    definitions."""
    keys = _names(order)
    numbered = global_row_number(df, order, num_partitions=num_partitions)
    key_stats = numbered.groupBy(*keys).agg(
        F.min("_global_rn").alias("_rank_min"),
        F.max("_global_rn").alias("_rank_max"),
    )
    N = F.col("_total_n")
    return (
        numbered.join(key_stats, on=keys, how="inner")
        .withColumn(
            pr_col,
            F.when(N > 1, (F.col("_rank_min") - 1) / (N - 1)).otherwise(F.lit(0.0)),
        )
        .withColumn(cd_col, F.col("_rank_max") / N)
        .drop("_global_rn", "_total_n", "_rank_min", "_rank_max")
    )


def exact_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact tie-aware ROC-AUC (Mann-Whitney U) of `score_col` as a
    ranker for binary `label_col` (0/1-valued; any numeric type), with
    no single-partition window and no per-pair work.

    Returns ONE row: n_pos, n_neg (BIGINT), u2 (BIGINT — twice the
    tie-adjusted U statistic, an EXACT integer), and
    auc = u2 / (2 * n_pos * n_neg) (NULL when either class is empty).

    Exactness argument: group by distinct score → (cnt, pos, neg)
    integers; a positive at score s beats every negative strictly below
    s and half-ties the negatives at s, so
        u2 = Σ_s pos_s · (2 · neg_below_s + neg_s)
    is integer arithmetic end-to-end. The only float op is the final
    single division of two exact integers (correctly rounded under
    IEEE-754, hence engine-stable), rounded to 9 places for the
    pandas hop.

    Scale shape: one keyed exchange for the score groupBy (distinct
    scores ≤ rows), then `global_running_sum` over the grouped table —
    range partition + local cumsum + broadcast triangular offsets, so
    the O(n²) pair semantics cost O(n log n) sort work with NO
    WindowExec-without-partition funnel, then a global 1-row reduce.
    At 100 TB the cost is one shuffle of (score, 2 longs) rows."""
    g = (
        df.select(
            F.col(score_col).alias("_s"),
            F.col(label_col).cast("bigint").alias("_y"),
        )
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_cnt"), F.sum("_y").alias("_pos"))
    )
    return auc_from_score_groups(g, num_partitions=num_partitions)


def auc_from_score_groups(
    groups: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Finalize AUC from pre-grouped (`_s`, `_cnt`, `_pos`) score
    groups. Split out from `exact_auc` because the grouped form is
    MERGEABLE (sum `_cnt`/`_pos` by `_s`) — a streaming job can emit
    per-window score-group partials as a plain watermarked aggregation
    and this finalize, run batch over the sink, is bit-identical to
    the all-data AUC (the portable-HLL/CMS/digest twin pattern)."""
    g = groups.groupBy("_s").agg(
        F.sum("_cnt").alias("_cnt"), F.sum("_pos").alias("_pos")
    ).withColumn("_neg", F.col("_cnt") - F.col("_pos"))
    c = global_running_sum(
        g, ["_s"], "_neg", out_col="_neg_cum", num_partitions=num_partitions
    ).withColumn("_neg_before", F.col("_neg_cum") - F.col("_neg"))
    agg = c.agg(
        F.sum("_pos").alias("_n_pos"),
        F.sum("_neg").alias("_n_neg"),
        F.sum(
            F.col("_pos") * (2 * F.col("_neg_before") + F.col("_neg"))
        ).alias("_u2"),
    )
    n_pos, n_neg, u2 = F.col("_n_pos"), F.col("_n_neg"), F.col("_u2")
    return agg.select(
        n_pos.cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        u2.cast("long").alias("u2"),
        F.when(
            (n_pos > 0) & (n_neg > 0),
            F.round(
                u2.cast("double")
                / (F.lit(2.0) * n_pos.cast("double") * n_neg.cast("double")),
                9,
            ),
        ).alias("auc"),
    )


def _names(order: list[Column | str]) -> list[str]:
    """Join keys for the tie-stats join: plain column names only (rank
    functions need named key columns to group on)."""
    for c in order:
        if not isinstance(c, str):
            raise TypeError(
                "tie-aware rank functions need plain column names in `order`"
            )
    return list(order)


def global_max_over_greater(
    df: DataFrame,
    key: str,
    value_col: str,
    out_col: str = "_max_over_greater",
    num_partitions: int | None = None,
) -> DataFrame:
    """For each row, MAX(value) over all rows with STRICTLY GREATER
    `key` (NULL if none) — the sort-based skyline/Pareto primitive —
    without a single-partition window. Two-pass like global_row_number:
    a per-range-partition suffix max (RANGE 1 FOLLOWING → UNBOUNDED on
    the numeric key, so equal keys never see each other) plus a
    broadcast triangular join over per-partition maxima. Correctness
    rests on RangePartitioner placing equal keys in ONE partition:
    every row in a higher partition has a strictly greater key, so
    greatest(local suffix max, higher-partition max) is exact."""
    rp = _pin(
        (
            df.repartitionByRange(num_partitions, F.col(key))
            if num_partitions
            else df.repartitionByRange(F.col(key))
        ).withColumn("_pid", F.spark_partition_id())
    )
    local = rp.withColumn(
        "_lmax",
        F.max(value_col).over(
            Window.partitionBy("_pid")
            .orderBy(key)
            .rangeBetween(1, Window.unboundedFollowing)
        ),
    )
    totals = rp.groupBy("_pid").agg(F.max(value_col).alias("_pmax"))
    a, b = totals.alias("a"), totals.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b._pid") > F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.max("b._pmax").alias("_hmax"))
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.greatest("_lmax", "_hmax"))
        .drop("_pid", "_lmax", "_hmax")
    )


def global_running_max(
    df: DataFrame,
    order: list[Column | str],
    value_col: str,
    out_col: str = "running_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running MAX(value) in `order` (ROWS UNBOUNDED PRECEDING)
    without a single-partition window — same two-pass construction as
    global_running_sum with max-combine: per-range-partition running
    max + a triangular broadcast join over per-partition maxima for
    the prefix-partition max (NULL for the first partition → the local
    value stands alone). Max is associative and idempotent, so the
    combine is exact for any orderable type."""
    cols = _order_cols(order)
    rp = _pin(
        (
            df.repartitionByRange(num_partitions, *cols)
            if num_partitions
            else df.repartitionByRange(*cols)
        ).withColumn("_pid", F.spark_partition_id())
    )
    local = rp.withColumn(
        "_local_max",
        F.max(value_col).over(
            Window.partitionBy("_pid")
            .orderBy(*cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    totals = rp.groupBy("_pid").agg(F.max(value_col).alias("_pmax"))
    a, b = totals.alias("a"), totals.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.max("b._pmax").alias("_offset"))
    )
    combined = F.when(
        F.col("_offset").isNull(), F.col("_local_max")
    ).otherwise(F.greatest(F.col("_local_max"), F.col("_offset")))
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, combined)
        .drop("_pid", "_local_max", "_offset")
    )
