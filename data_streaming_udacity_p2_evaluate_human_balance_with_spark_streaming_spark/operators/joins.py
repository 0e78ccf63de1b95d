"""Join operators (SURVEY.md §2.4 J1 + the join surface the reference
gets for free from Spark).

The reference's single join is a watermark-less stream-stream inner
equi-join (`sparkpykafkajoin.py:131`:
``emailAndBirthYearStreamingDF.join(customerRiskStreamingDF,
expr("email=customer"))``) — state grows unboundedly (SURVEY.md
§2.8-T4). We keep that as fidelity mode and add the watermarked variant
as the 100 TB-safe mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def equi_join(left: DataFrame, right: DataFrame, condition: str, how: str = "inner") -> DataFrame:
    """J1: theta-expressed equi-join; Catalyst's ExtractEquiJoinKeys
    turns `expr("email=customer")` into hash-joinable keys."""
    return left.join(right, F.expr(condition), how)


def broadcast_join(
    big: DataFrame, small: DataFrame, condition: str, how: str = "inner"
) -> DataFrame:
    """Scale path for dimension joins: broadcast the small side so the
    big side never shuffles. AQE will also auto-pick broadcast below
    `spark.sql.autoBroadcastJoinThreshold`; the explicit hint makes the
    intent (and plan) deterministic."""
    return big.join(F.broadcast(small), F.expr(condition), how)


def content_salt(df: DataFrame, salt_buckets: int) -> F.Column:
    """Deterministic per-row salt in [0, salt_buckets): hash of the
    row's full content, stable under repartition/retries/speculation
    (unlike monotonically_increasing_id, which depends on partition
    layout)."""
    return F.pmod(F.xxhash64(F.struct(*df.columns)), F.lit(salt_buckets))


def salted_join(
    big: DataFrame,
    skewed_small: DataFrame,
    big_key: str,
    small_key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the big side salts its key with a
    deterministic hash-derived bucket; the small side is exploded
    `salt_buckets`× so every salted key still matches. Use when one
    join key carries a disproportionate share of rows and AQE's skew
    splitting isn't available (e.g. streaming-static joins).

    Cost model: small side grows ×salt_buckets (keep it the dimension
    side); the big side's hot key spreads over `salt_buckets` tasks.

    The salt is CONTENT-DERIVED: a hash over the row's full struct, so
    every row keeps the same salt under repartitioning, retries, and
    speculative task re-execution (`monotonically_increasing_id` is
    partition-layout-dependent — harmless for inner joins but
    non-reproducible across runs, which poisons debugging/auditing).
    Identical rows land in the same bucket; that only narrows spreading
    when the hot key's rows are literal duplicates, in which case exact
    dedup — not salting — is the right tool.
    """
    big_salted = big.withColumn("_salt", content_salt(big, salt_buckets))
    small_exploded = skewed_small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = big_salted.join(
        small_exploded,
        (F.col(big_key) == F.col(small_key)) & (big_salted["_salt"] == small_exploded["_salt"]),
        how,
    )
    return out.drop("_salt")


#: Session confs governing runtime bloom-filter join pruning (Spark
#: injects a bloom filter built from the FILTERED small side into the
#: large side's scan — a semi-join reduction without any broadcast).
#: On by default; the thresholds matter: creation side must be under
#: creationSideThreshold and the application side's scan must exceed
#: applicationSideScanSizeThreshold, so at bench SFs the filter won't
#: appear unless the latter is lowered (tests do; at the real 10 GB+
#: scan sizes the defaults fire on their own).
BLOOM_JOIN_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the SMJ shape
}


def watermarked_stream_join(
    left: DataFrame,
    right: DataFrame,
    condition: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    range_cond: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Scale-safe variant of J1: watermark both sides so the symmetric
    hash-join state store can evict. `range_cond` (e.g.
    "left_ts BETWEEN right_ts - INTERVAL 1 HOUR AND right_ts") bounds
    how long a row stays joinable; without it inner-join state still
    grows for the un-watermarked key dimension."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = condition if range_cond is None else f"({condition}) AND ({range_cond})"
    return lw.join(rw, F.expr(cond), how)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    bin_width: int,
    left_start: str = "ss",
    left_end: str = "se",
    right_start: str = "ws",
    right_end: str = "we",
    broadcast_right: bool = False,
) -> DataFrame:
    """Interval×interval OVERLAP join via binning: explode each
    interval [start, end) to the fixed-width bins it covers, equi-join
    on the bin, apply the exact overlap predicate, and count each pair
    ONCE at its first common bin — bin == greatest(start bins) (the
    later-starting interval's start bin is covered by both sides of
    any true overlap, so the dedup needs no distinct/shuffle).

    Emits every (left ⨯ right) column pair with start < other.end
    strictly (touching intervals do NOT match). Fan-out per row is
    ceil(len / bin_width) + 1 — bounded by data shape, never by the
    other side. `bin_width` should be ≥ the typical interval length so
    the fan-out stays ~2; the bin is also the shuffle key when both
    sides are large, so skew is bounded by how many intervals cross a
    given wall-clock bin. Certified against unbinned quadratic
    semantics by the interval_overlap_join oracle and a hypothesis
    property test (random intervals, exact multiset equality)."""
    w = bin_width

    def binned(df: DataFrame, s: str, e: str) -> DataFrame:
        # empty/inverted intervals (end <= start) are dropped here: they
        # can overlap nothing, and [k·w, k·w) would otherwise explode a
        # DESCENDING sequence (phantom bins) and pass the strict
        # predicate with overlap 0
        return df.filter(F.col(e) > F.col(s)).withColumn(
            "_bin",
            F.explode(
                F.sequence(F.expr(f"{s} DIV {w}"), F.expr(f"({e} - 1) DIV {w}"))
            ),
        )

    r = binned(right, right_start, right_end)
    joined = binned(left, left_start, left_end).join(
        F.broadcast(r) if broadcast_right else r, "_bin"
    )
    return joined.filter(
        (F.col(left_start) < F.col(right_end))
        & (F.col(right_start) < F.col(left_end))
        & (
            F.col("_bin")
            == F.greatest(
                F.expr(f"{left_start} DIV {w}"),
                F.expr(f"{right_start} DIV {w}"),
            )
        )
    ).drop("_bin")
