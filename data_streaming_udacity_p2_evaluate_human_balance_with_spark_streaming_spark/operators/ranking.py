"""Scale-safe global ranking: two-pass range-partitioned scans and the
rank functions derived from them (NTILE, PERCENT_RANK, CUME_DIST).

The naive form — `Window.orderBy(...)` with no partition — funnels the
ENTIRE dataset through one task (Spark warns `WindowExec: No Partition
Defined`); fine at sf0.1, fatal at 100 TB. The classic distributed
alternative (Goetz Graefe's two-phase ranking; same construction as
Spark's own `zipWithIndex` on RDDs) is:

1. `repartitionByRange` on the sort key → partition p holds a
   contiguous key range, partitions ordered p0 < p1 < …;
2. a per-partition local window value (window PARTITIONED by the range
   partition id — parallel, no global funnel);
3. a per-partition aggregate of the same quantity (P rows, P =
   #partitions) folded over the EARLIER partitions by a tiny
   broadcast triangular self-join (P², driver-free, and no
   single-partition window even on the small side);
4. the global value = combine(earlier-partition fold, local value).

`_range_scan` is the one implementation of that construction (and of
the `_pin` rule that keeps both passes on the same partition
boundaries). It has two combines: **sum** — coalesce(sum(earlier), 0)
+ local (row numbers count rows, running sums add values) — and
**max** — greatest(max(earlier), local), where greatest skips the NULL
of the first partition. One pass may carry several outputs
(global_running_sum_row_number: one range exchange, one pin).

global_max_over_greater scans in DESCENDING key order with the local
frame RANGE UNBOUNDED PRECEDING → 1 PRECEDING, i.e. key ≥ k + 1. That
equals "key > k" only for integral keys, so it raises TypeError on any
other key type (a fractional key between k and k + 1 would otherwise be
seen or missed depending on which partition it lands in).

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
from pyspark.sql.window import Window, WindowSpec


def _order_cols(order: list[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order]


def _pin(rp: DataFrame) -> DataFrame:
    """Pin the range-partitioned subtree so every branch sees the SAME
    partition boundaries.

    Both passes (local windows AND the per-partition counts/totals)
    reference the same range-partitioned node (with its `_pid`
    column), but range boundaries come from sampling whose seed varies per
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


#: combine name → (fold of the earlier partitions' aggregates,
#: (fold, local) → global value)
_COMBINES = {
    "sum": (lambda c: F.coalesce(F.sum(c), F.lit(0)), lambda off, loc: off + loc),
    "max": (F.max, lambda off, loc: F.greatest(loc, off)),
}


def _range_scan(
    df: DataFrame,
    order: list[Column | str],
    scans: list[tuple[str, Column, Column, str]],
    num_partitions: int | None = None,
    frame: WindowSpec | None = None,
    total: str | None = None,
) -> DataFrame:
    """The two-pass range scan (module docstring) behind every global
    ranking operator. Each scan is (out_col, window_fn, part_agg,
    combine): `window_fn` is evaluated per range partition in `order`
    over `frame` (default ROWS UNBOUNDED PRECEDING → CURRENT ROW),
    `part_agg` is the same quantity per partition, and `combine`
    ("sum" | "max") folds the earlier partitions' aggregates into the
    local value. All scans share one range exchange, one pin, one
    local window sort and one triangular join. `total` names an extra
    column holding the grand total of the first scan's aggregates
    (global_row_number's `_total_n`)."""
    cols = _order_cols(order)
    rp = _pin(
        (
            df.repartitionByRange(num_partitions, *cols)
            if num_partitions
            else df.repartitionByRange(*cols)
        ).withColumn("_pid", F.spark_partition_id())
    )
    if frame is None:
        frame = Window.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w = frame.partitionBy("_pid").orderBy(*cols)
    outs, fns, parts, combines = zip(*scans)

    local = rp
    for i, fn in enumerate(fns):
        local = local.withColumn(f"_local{i}", fn.over(w))
    per = rp.groupBy("_pid").agg(*[p.alias(f"_part{i}") for i, p in enumerate(parts)])
    a, b = per.alias("a"), per.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(*[_COMBINES[c][0](f"b._part{i}").alias(f"_off{i}") for i, c in enumerate(combines)])
    )
    out = local.join(F.broadcast(offsets), "_pid")
    for i, (out_col, c) in enumerate(zip(outs, combines)):
        out = out.withColumn(out_col, _COMBINES[c][1](F.col(f"_off{i}"), F.col(f"_local{i}")))
    if total:
        out = out.crossJoin(F.broadcast(per.agg(F.sum("_part0").alias(total))))
    return out.drop("_pid", *[f"_{t}{i}" for t in ("local", "off") for i in range(len(scans))])


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
    return _range_scan(
        df,
        order,
        [(rn_col, F.row_number(), F.count(F.lit(1)), "sum")],
        num_partitions,
        total="_total_n",
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
    cumsum + the sum combine over earlier partitions' value totals."""
    s = F.sum(value_col)
    return _range_scan(df, order, [(out_col, s, s, "sum")], num_partitions)


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
    TWICE and then re-joined the two outputs on the order key. Here
    both scans share one `_range_scan` pass — one range exchange, one
    pin, one local window sort, one triangular join, no recombining
    join. Values are identical to the two separate ops (`order` must be
    a total order, as global_row_number requires)."""
    s = F.sum(value_col)
    return _range_scan(
        df,
        order,
        [(sum_col, s, s, "sum"), (rn_col, F.row_number(), F.count(F.lit(1)), "sum")],
        num_partitions,
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
    without a single-partition window. A max `_range_scan` in
    DESCENDING key order: the local frame RANGE UNBOUNDED PRECEDING →
    1 PRECEDING holds the rows with key ≥ k + 1 (so equal keys never
    see each other), and the earlier partitions hold only greater keys
    (RangePartitioner places equal keys in ONE partition). `key ≥ k + 1`
    is `key > k` only for integral keys, so any other key type raises
    TypeError."""
    dtype = df.select(key).schema[0].dataType.simpleString()
    if dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"global_max_over_greater needs an integral key; {key!r} is {dtype}"
        )
    m = F.max(value_col)
    return _range_scan(
        df,
        [F.col(key).desc()],
        [(out_col, m, m, "max")],
        num_partitions,
        frame=Window.rangeBetween(Window.unboundedPreceding, -1),
    )


def global_running_max(
    df: DataFrame,
    order: list[Column | str],
    value_col: str,
    out_col: str = "running_max",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running MAX(value) in `order` (ROWS UNBOUNDED PRECEDING)
    without a single-partition window — a max `_range_scan`: the local
    running max combined with the earlier partitions' maxima (NULL for
    the first partition → the local value stands alone). Max is
    associative and idempotent, so the combine is exact for any
    orderable type."""
    m = F.max(value_col)
    return _range_scan(df, order, [(out_col, m, m, "max")], num_partitions)
