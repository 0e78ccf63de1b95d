"""Count-min sketch: fixed-size mergeable frequency sketch.

The 100 TB story: a CMS is a d×w counter grid whose size never grows
with the data — each partition folds its rows into ≤ d·w cells via
map-side partial aggregation (Spark's hash-aggregate IS the sketch
merge), so the shuffle carries at most `num_partitions · d · w` tiny
cells no matter how many trillions of input rows there are. Estimates
over-count (never under-count) by ≤ εN with probability 1-δ where
ε = e/w, δ = e^-d (Cormode & Muthukrishnan, J.Algorithms 2005).

Hash rows use md5 hex prefixes as bucket LABELS (strings, not ints):
`substring(md5(i || ':' || x), 1, 2)` gives 256 buckets per row with
zero hex→int conversion — portable to any ANSI engine (the DuckDB
oracle replays it byte-for-byte; xxhash64 would be Spark-only).

Complements `aggregates.hll_sketch_per_group` (distinct-count sketch):
HLL answers "how many distinct", CMS answers "how frequent is each".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: default grid: 4 hash rows × 256 buckets (2 hex chars) → ε ≈ 1.1%·N,
#: δ ≈ 1.8%; 1024 cells regardless of input size.
DEFAULT_D = 4
BUCKET_HEX_CHARS = 2


def _bucket_expr(i_col: str, x_col: str) -> str:
    return (
        f"substring(md5(concat(CAST({i_col} AS STRING), ':', {x_col})), "
        f"1, {BUCKET_HEX_CHARS})"
    )


def cms_build(df: DataFrame, col: str, d: int = DEFAULT_D) -> DataFrame:
    """Build the sketch: (i, bucket, cnt) cells, ≤ d·256 rows total.

    The explode(×d) feeds straight into a hash aggregate whose key
    space is the fixed grid — partial (map-side) aggregation collapses
    every partition to its own ≤ d·256-cell sketch before the single
    tiny shuffle, which is exactly the distributed sketch-merge
    semantics (cell-wise sum).
    """
    return (
        df.select(F.col(col).cast("string").alias("x"))
        .select(
            "x",
            F.explode(F.array([F.lit(i) for i in range(d)])).alias("i"),
        )
        .withColumn("bucket", F.expr(_bucket_expr("i", "x")))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built over disjoint slices (days, shards,
    streams): cell-wise sum. Union of tiny frames — never touches the
    original data, the property that makes CMS incremental."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("i", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(items: DataFrame, sketch: DataFrame, col: str, d: int = DEFAULT_D) -> DataFrame:
    """Point-estimate frequencies for an item set: min over the d cells
    each item hashes to. The sketch (≤ 1024 rows) broadcasts; the item
    side never shuffles. Adds `est_count` (always ≥ the true count)."""
    probes = items.select(
        "*", F.explode(F.array([F.lit(i) for i in range(d)])).alias("i")
    ).withColumn(
        "bucket", F.expr(_bucket_expr("i", f"CAST({col} AS STRING)"))
    )
    return (
        probes.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy(*items.columns)
        .agg(F.min("cnt").alias("est_count"))
    )


def heavy_hitters(
    df: DataFrame, col: str, threshold: int, d: int = DEFAULT_D
) -> DataFrame:
    """Items whose CMS-estimated frequency meets `threshold`, with the
    exact count alongside for audit (est_count ≥ exact_count always —
    CMS never under-counts, so no true heavy hitter is missed; bucket
    collisions can only add false positives near the threshold).

    At 100 TB the exact-count audit column is the expensive part (a
    full-cardinality shuffle) — production callers estimate against a
    candidate stream instead; the audit variant is what the oracle
    certifies.
    """
    sketch = cms_build(df, col, d=d)
    exact = df.groupBy(col).agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(exact, sketch, col, d=d)
    return est.filter(F.col("est_count") >= threshold).select(
        col, "est_count", "exact_count"
    )


# --------------------------------------------------------------------------
# Portable HyperLogLog: the one home of the register format and the
# estimator. Both are SQL text that Spark and DuckDB evaluate
# identically, so every operator, registry query and DuckDB oracle that
# counts distinct keys with an HLL builds on the fragments below. Register
# sums are EXACT integers (no fp summation-order divergence), so even the
# estimate is oracle-comparable. m = 256 serves the group sketches
# (hll_estimate, the merge, sliding windows); m = 16 and 64 serve the
# per-node ANF hop sketches (operators/graphs.py), where one sketch per
# node keeps register rows at m·|V|.
# --------------------------------------------------------------------------

#: default register count (σ ≈ 1.04/√m ≈ 6.5%).
HLL_M = 256
#: rho is read from the 12 hex chars (48 bits) after the bucket chars:
#: rho ∈ [1, 49], 49 for an all-zero stream, so every register term
#: 2^(49 − rho) and any sum of m ≤ 256 of them fits a BIGINT.
_RHO_HEX = 12
_RHO_MAX = 4 * _RHO_HEX + 1
_HEX = "0123456789abcdef"
#: alpha_m (Flajolet et al. 2007): the small-m constants for 16 and 64,
#: 0.7213/(1 + 1.079/m) for 256. Emitted as literals cast to DOUBLE so
#: Spark and DuckDB fold the identical double.
_ALPHA = {16: 0.673, 64: 0.709, 256: 0.7213 / (1 + 1.079 / 256)}


def _nibble(ch_sql: str) -> str:
    return f"(instr('{_HEX}', {ch_sql}) - 1)"


def hex_prefix_int(hex_sql: str, n: int) -> str:
    """The exact BIGINT value of the first `n` (1 to 15) chars of a
    lowercase hex string such as an md5 digest, as SQL that Spark and
    DuckDB run alike (DuckDB has no conv()). Spark-only code may use
    CAST(conv(substring(h, 1, n), 16, 10) AS BIGINT) for the same value."""
    if not 1 <= n <= 15:
        raise ValueError(f"hex_prefix_int: n={n} is outside 1..15")
    terms = (
        f"CAST({_nibble(f'substring({hex_sql}, {i + 1}, 1)')} AS BIGINT)"
        f" * {16 ** (n - 1 - i)}"
        for i in range(n)
    )
    return "(" + " + ".join(terms) + ")"


def hll_register_exprs(key_sql: str, m: int = HLL_M) -> dict[str, str]:
    """SQL fragments (valid in Spark AND DuckDB; the caller supplies the
    string cast of the key per dialect) for the HLL register of one key:

    - `bucket_hex`: the bucket as an md5 hex label — the first char
      (m=16), the first char plus the second char's top 2 bits as a
      digit '0'..'3' (m=64), or the first two chars (m=256);
    - `bucket`: the same bucket as an integer in [0, m);
    - `rho`: leading zero bits + 1 of the 48-bit stream that starts
      right after the bucket chars, with pure integer/string ops —
      `floor(log2(w))` would wobble at power-of-two boundaries.

    Raises ValueError for any other m."""
    if m not in _ALPHA:
        raise ValueError(f"hll_register_exprs: unsupported m={m}; use 16, 64 or 256")
    h = f"md5({key_sql})"
    first, second = f"substring({h}, 1, 1)", f"substring({h}, 2, 1)"
    if m == 16:
        bucket_hex, bucket, rho_at = first, _nibble(first), 2
    elif m == 64:
        quad = f"substring('0000111122223333', instr('{_HEX}', {second}), 1)"
        bucket_hex = f"concat({first}, {quad})"
        bucket, rho_at = f"{_nibble(first)} * 4 + {_nibble(quad)}", 3
    else:
        bucket_hex = f"substring({h}, 1, 2)"
        bucket, rho_at = f"{_nibble(first)} * 16 + {_nibble(second)}", 3
    stripped = f"regexp_replace(substring({h}, {rho_at}, {_RHO_HEX}), '^0+', '')"
    lead = f"substring({stripped}, 1, 1)"
    lead_zeros = (
        f"CASE WHEN {lead} = '1' THEN 3 WHEN {lead} IN ('2','3') THEN 2 "
        f"WHEN {lead} IN ('4','5','6','7') THEN 1 ELSE 0 END"
    )
    rho = (
        f"CASE WHEN {stripped} = '' THEN {_RHO_MAX} "
        f"ELSE 4 * ({_RHO_HEX} - length({stripped})) + {lead_zeros} + 1 END"
    )
    return {"bucket_hex": bucket_hex, "bucket": bucket, "rho": rho}


def hll_term(rho_sql: str) -> str:
    """One present register's exact-integer harmonic term 2^(49 − rho)
    (a BIGINT; `<<` runs in both engines, DuckDB has no shiftleft)."""
    return f"(CAST(1 AS BIGINT) << ({_RHO_MAX} - {rho_sql}))"


#: (s_int, n_regs) select items summarizing the register rows of one
#: sketch (an aggregate over rows with a `rho` column): s_int = Σ 2^(49 −
#: rho) over the present registers, n_regs their count.
HLL_SUMMARY_SQL = (
    f"CAST(SUM({hll_term('rho')}) AS BIGINT) AS s_int",
    "CAST(COUNT(*) AS BIGINT) AS n_regs",
)


def hll_estimate_sql(m: int = HLL_M) -> str:
    """The distinct-count estimate of one m-register sketch from its
    summary columns (s_int, n_regs), valid in Spark and DuckDB alike.
    raw = alpha·m²·2^49 / S' where S' = s_int + (m − n_regs)·2^49 sums
    2^(49 − M[j]) over ALL m registers: an empty one has M[j] = 0 and
    contributes 2^49 — omitting it is the classic small-cardinality
    overestimate. At or below 2.5·m, while a register is still empty,
    linear counting m·ln(m / empty) replaces raw. Both engines divide
    the same folded literal by the same exact integer; ln is the only
    libm call."""
    scale = 1 << _RHO_MAX
    raw = (
        f"((CAST({_ALPHA[m]!r} AS DOUBLE) * {m} * {m} * CAST({scale} AS DOUBLE))"
        f" / CAST(s_int + ({m} - n_regs) * {scale} AS DOUBLE))"
    )
    return (
        f"CASE WHEN {raw} <= CAST({5 * m // 2} AS DOUBLE) AND ({m} - n_regs) > 0"
        f" THEN {m} * ln(CAST({m} AS DOUBLE) / ({m} - n_regs)) ELSE {raw} END"
    )


#: the estimate rows' value columns, after the group column
_HLL_OUT = (
    f"round({hll_estimate_sql()}, 4) AS est_distinct",
    "n_regs AS n_registers",
)


def hll_registers(df: DataFrame, group_cols: list, key_col: str) -> DataFrame:
    """(group..., bucket_hex, rho) register table for a key column —
    the STORABLE/STREAMABLE sketch form. `group_cols` may mix column
    names and Column expressions (e.g. an event-time window): the
    groupBy is a plain hash aggregate with max(rho) partials, so on a
    WATERMARKED STREAM this runs as a built-in streaming aggregation —
    per-window distinct-count sketches emit append-finalized with no
    custom state operator, bounded at ≤256 rows per group. Register
    tables merge by a further groupBy(...).max(rho) — the property
    hll_estimate_from_registers and the streaming twin both lean on.

    Scale shape identical to the CMS: map-side hash aggregation IS the
    sketch merge; the shuffle carries ≤ 256 registers per group per
    partition regardless of input rows."""
    e = hll_register_exprs(f"CAST({key_col} AS STRING)")
    # bucket/rho are computed INSIDE the groupBy/agg, with no projection
    # in between: a pre-projection would detach the watermark metadata
    # from an event-time window group column and break append mode
    return df.groupBy(
        *group_cols, F.expr(e["bucket_hex"]).alias("bucket_hex")
    ).agg(F.max(F.expr(e["rho"])).alias("rho"))


def hll_registers_sql(table: str, group_sql: str, key_col: str) -> str:
    """DuckDB replica of `hll_registers`: (group, bucket_hex, rho) rows
    of `table`, `group_sql` being one select item."""
    e = hll_register_exprs(f"CAST({key_col} AS VARCHAR)")
    return (
        f"SELECT {group_sql}, {e['bucket_hex']} AS bucket_hex, "
        f"MAX({e['rho']}) AS rho FROM {table} GROUP BY 1, 2"
    )


def hll_estimate_from_registers(regs: DataFrame, group_col: str) -> DataFrame:
    """Finalize a `hll_registers` table into per-group (est_distinct,
    n_registers) rows with `hll_estimate_sql` rounded to 4 places. Every
    estimate path ends here, so STREAM-EMITTED registers finalize
    batch-side bit-identically to the all-batch path."""
    return (
        regs.groupBy(group_col)
        .agg(*[F.expr(s) for s in HLL_SUMMARY_SQL])
        .select(group_col, *[F.expr(s) for s in _HLL_OUT])
    )


def hll_estimate_from_registers_sql(regs: str, group_col: str) -> str:
    """DuckDB replica of `hll_estimate_from_registers` over the register
    table or CTE `regs`, whose first column is `group_col`."""
    return (
        f"SELECT {group_col}, {', '.join(_HLL_OUT)} FROM ("
        f"SELECT {group_col}, {', '.join(HLL_SUMMARY_SQL)} "
        f"FROM {regs} GROUP BY 1)"
    )


def hll_estimate(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-group HLL distinct estimate, fully deterministically:
    registers are max(rho) per (group, bucket); the harmonic-mean
    denominator is an exact integer, so both engines divide the same
    literal numerator by the same integer (`hll_estimate_sql`)."""
    return hll_estimate_from_registers(
        hll_registers(df, [group_col], key_col), group_col
    )


def hll_estimate_oracle_sql(table: str, group_col: str, key_col: str) -> str:
    """DuckDB replica of `hll_estimate` — identical register math; buckets
    stay hex labels and the sum is over shifted integers, so no hex→int
    conversion is needed."""
    return f"""
    WITH regs AS ({hll_registers_sql(table, group_col, key_col)})
    {hll_estimate_from_registers_sql("regs", group_col)}
    """


def hll_merge_estimate(
    df: DataFrame, group_col: str, key_col: str, all_label: str = "ALL"
) -> DataFrame:
    """Per-group HLL estimates PLUS the merged-sketch global row: the
    `all_label` row's registers are the per-bucket MAX over every
    group's registers — the sketch-union operation — not a rescan of
    the raw keys. This is the property that makes HLL usable at 100 TB:
    per-partition/per-day sketches (256 registers each) merge
    associatively into exact-union estimates without touching raw data
    again; the oracle replays the identical merge, putting MERGE
    semantics themselves under the value gate (a pytest additionally
    pins merged == direct-global-scan estimate). The merged registers
    are summarized on their own, so a real group named `all_label`
    keeps its own row instead of being summed into the merged one."""
    group = F.col(group_col).cast("string").alias(group_col)
    regs = hll_registers(df, [group], key_col)
    merged = (
        regs.groupBy("bucket_hex")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit(all_label).alias(group_col), "bucket_hex", "rho")
    )
    return hll_estimate_from_registers(regs, group_col).unionByName(
        hll_estimate_from_registers(merged, group_col)
    )


def hll_merge_oracle_sql(
    table: str, group_col: str, key_col: str, all_label: str = "ALL"
) -> str:
    """DuckDB replica of `hll_merge_estimate`."""
    regs = hll_registers_sql(
        table, f"CAST({group_col} AS VARCHAR) AS {group_col}", key_col
    )
    return f"""
    WITH regs AS ({regs}), merged AS (
      SELECT '{all_label}' AS {group_col}, bucket_hex, MAX(rho) AS rho
      FROM regs GROUP BY 2
    )
    {hll_estimate_from_registers_sql("regs", group_col)}
    UNION ALL
    {hll_estimate_from_registers_sql("merged", group_col)}
    """


def kmv_samples(
    df: DataFrame, group_col: str, key_col: str, k: int = 256
) -> DataFrame:
    """Bottom-k (KMV) sample per group: the k lexicographically
    smallest distinct md5(key) digests. Hex comparison is monotone in
    the hash value, so "k smallest strings" == "k smallest numbers"
    without any engine-specific hex→int conversion — the property that
    makes the sketch fully DuckDB-oracle-able.

    A KMV sample is MERGEABLE (k smallest of a union = k smallest of
    the concatenated samples) and supports SET operations — the thing
    HLL cannot do: intersection/Jaccard between groups come straight
    from sample membership (Beyer et al., "On synopses for distinct-
    value estimation under multiset operations").

    Scale shape: one distinct on (group, digest) — map-side partial —
    then a per-group rank window (bounded by the group's distinct
    count; the sort is the honest cost of exact bottom-k, and at
    extreme group cardinality the distinct pre-pass has already
    collapsed the data to unique digests)."""
    dh = df.select(
        F.col(group_col), F.md5(F.col(key_col).cast("string")).alias("_h")
    ).distinct()
    w = Window.partitionBy(group_col).orderBy("_h")
    return (
        dh.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(group_col, "_h", "_rk")
    )


def kmv_intersection_pairs(
    samples: DataFrame, group_col: str, k: int = 64
) -> DataFrame:
    """Theta-sketch-style pairwise INTERSECTION CARDINALITY from KMV
    samples — kmv_jaccard_pairs' ratio promoted to a count:
    est |A∩B| = (sample_inter/k_used) · union_est with union_est =
    (k_used−1)·2⁴⁸ / v_k, v_k the exact 48-bit integer value of the
    k-th smallest merged digest (digest lexicographic order = numeric
    order, so v_k is just MAX over the kept bottom-k). One shared IEEE
    tree over four exact integers, round-4 — fully oracle-able (the
    DuckDB side converts hex with per-nibble shifts; Spark uses
    conv()).

    Scale shape: identical to kmv_jaccard_pairs — everything runs on
    ≤ |groups|²·k sample rows."""
    groups = samples.select(F.col(group_col).alias("g")).distinct()
    pairs = groups.select(F.col("g").alias("ga")).join(
        groups.select(F.col("g").alias("gb")), F.col("ga") < F.col("gb")
    )
    uni = (
        samples.select(F.col(group_col).alias("g"), "_h")
        .join(
            F.broadcast(pairs),
            (F.col("g") == F.col("ga")) | (F.col("g") == F.col("gb")),
        )
        .groupBy("ga", "gb", "_h")
        .agg(F.count(F.lit(1)).alias("sides"))
    )
    w = Window.partitionBy("ga", "gb").orderBy("_h")
    merged = uni.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
    agg = merged.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum(
            F.when(F.col("sides") == 2, 1).otherwise(0)
        ).alias("sample_inter"),
        F.max(
            F.expr("CAST(conv(substring(_h, 1, 12), 16, 10) AS BIGINT)")
        ).alias("vk"),
    )
    # Small-set branch (standard KMV): k_used < k means the merged
    # union never filled the sketch — it is EXHAUSTIVELY sampled, its
    # cardinality is exactly k_used, and the (k_used-1)*2^48/v_k
    # estimator would be needlessly biased low (two identical
    # fully-sampled sets of size s would estimate well under s). In
    # that regime union_est = k_used and inter_est = sample_inter
    # exactly.
    union_est = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise(
        (F.col("k_used") - 1).cast("double")
        * F.lit(281474976710656.0)
        / F.col("vk").cast("double")
    )
    return agg.select(
        "ga",
        "gb",
        "k_used",
        "sample_inter",
        F.round(
            union_est
            * (
                F.col("sample_inter").cast("double")
                / F.col("k_used").cast("double")
            ),
            4,
        ).alias("inter_est"),
    )


def kmv_jaccard_pairs(
    samples: DataFrame, group_col: str, k: int = 256
) -> DataFrame:
    """Pairwise Jaccard ESTIMATES between groups from their KMV
    samples: for pair (a, b), take the k smallest digests of the
    merged samples, count how many belong to BOTH samples, divide by
    the merged-sample size. Unbiased for |A∩B|/|A∪B| with σ ≈
    1/√k (~6% at k=256). Everything after the samples is tiny
    (|groups|·k rows), so the pair fan-out is |groups|² — the point of
    sketch set-ops: corpus-scale overlap questions answered on
    kilobytes."""
    # enumerate ordered pairs via the distinct group list (tiny)
    groups = samples.select(F.col(group_col).alias("g")).distinct()
    pairs = (
        groups.select(F.col("g").alias("ga"))
        .join(groups.select(F.col("g").alias("gb")), F.col("ga") < F.col("gb"))
    )
    union_rows = (
        samples.select(F.col(group_col).alias("g"), "_h")
        .join(F.broadcast(pairs), (F.col("g") == F.col("ga")) | (F.col("g") == F.col("gb")))
        .groupBy("ga", "gb", "_h")
        .agg(F.count(F.lit(1)).alias("_sides"))
    )
    w = Window.partitionBy("ga", "gb").orderBy("_h")
    topk = union_rows.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= k
    )
    return topk.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("k_used"),
        F.sum(F.when(F.col("_sides") == 2, 1).otherwise(0)).alias("sample_inter"),
        (
            F.sum(F.when(F.col("_sides") == 2, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("jaccard_est"),
    )


# ---------------------------------------------------------------------------
# Portable Bloom filter — the membership sketch completing the family
# (CMS: frequency, HLL: distinct count, KMV: set ops, Bloom: membership).

#: 2^20 bits (5 hex chars address exactly 16^5 positions) packed into
#: 32-bit words inside BIGINTs → ≤ 32,768 (word_idx, bits) rows ≈ 512 KB:
#: broadcastable. At n=10^5 keys / k=4: load 0.33, FPR ≈ (1-e^-0.33)^4
#: ≈ 0.6%. Scale m via bloom hex chars for bigger corpora (6 chars =
#: 2^24 bits, still < 10 MB sparse).
BLOOM_HEX_CHARS = 5
BLOOM_K = 4
_BLOOM_WORD = 32  # bits per word; masks stay < 2^31 — DuckDB's checked
#                   BIGINT << would overflow at 63, and 32-bit masks
#                   bit_or into BIGINT words identically in both engines


def _bloom_pos_exprs(key_sql: str) -> list[str]:
    """k bit positions for one key, each an independent 20-bit slice of
    the key's single md5 — pure hex-substring arithmetic, replayable
    byte-for-byte in any ANSI engine (the portable-HLL recipe; one md5
    per key, not k)."""
    h = f"md5({key_sql})"
    return [
        f"CAST(conv(substring({h}, {1 + BLOOM_HEX_CHARS * i}, {BLOOM_HEX_CHARS}), 16, 10) AS BIGINT)"
        for i in range(BLOOM_K)
    ]


def bloom_build(df: DataFrame, key_col: str) -> DataFrame:
    """Build a Bloom filter over a key column as a SPARSE word table
    (word_idx bigint, bits bigint) — the storable/broadcastable form.

    Scale shape: keys explode to k=4 (word, mask) pairs projected
    before any exchange; one hash-aggregate with map-side bit_or
    partials folds them into ≤ m/32 words — the shuffle carries words,
    never keys, so building over 10^12 rows moves ≤ 32k rows per map
    partition. Merging two filters of the same geometry is
    union + groupBy(word_idx).bit_or(bits) — associative, partial-
    aggregable, the same property the CMS/HLL/KMV family leans on."""
    pos = _bloom_pos_exprs(f"CAST({key_col} AS STRING)")
    return (
        df.select(F.explode(F.array(*[F.expr(p) for p in pos])).alias("p"))
        .select(
            F.expr(f"p DIV {_BLOOM_WORD}").alias("word_idx"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_BLOOM_WORD} AS INT))").alias("m"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )


def bloom_probe(bloom: DataFrame, df: DataFrame, key_col: str, out_col: str = "maybe_present") -> DataFrame:
    """Probe rows against a `bloom_build` table: `out_col` is true iff
    ALL k of the key's bit positions are set — NO false negatives ever
    (every inserted key probes true); false positives at the documented
    FPR. The production prefilter shape: broadcast the word table, and
    only probe-positive rows continue to the exact (shuffling)
    verification join — at 100 TB this turns a full-corpus anti-join
    into a local filter plus a join on <1% of the batch.

    Distinct positions are counted (two of the k slices can collide on
    one position), so `hit == need` is exact membership logic.

    Rows regroup after the k-way explode by a monotonically-increasing
    row id, NOT by the payload columns — duplicate input rows stay
    distinct rows in the output (row count preserved), and the grouping
    key is one long instead of the full row. The scratch column names
    are reserved: a probe frame that already uses one raises."""
    clash = {"_p", "_w", "_m", "_rid", "bits"} & set(df.columns)
    if clash:
        raise ValueError(
            f"bloom_probe reserves column names {sorted(clash)}; "
            "rename them on the probe DataFrame first"
        )
    pos = _bloom_pos_exprs(f"CAST({key_col} AS STRING)")
    keyed = (
        df.withColumn("_rid", F.monotonically_increasing_id())
        .select(
            "*", F.explode(F.array(*[F.expr(p) for p in pos])).alias("_p")
        )
        .select(
            "*",
            F.expr(f"_p DIV {_BLOOM_WORD}").alias("_w"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_p % {_BLOOM_WORD} AS INT))").alias("_m"),
        )
    )
    joined = keyed.join(
        F.broadcast(bloom.withColumnRenamed("word_idx", "_w")), "_w", "left"
    )
    probe_cols = [c for c in df.columns]
    return (
        joined.groupBy("_rid")
        .agg(
            *[F.first(c).alias(c) for c in probe_cols],
            F.count_distinct("_p").alias("_need"),
            F.count_distinct(
                F.when((F.col("bits").isNotNull()) & (F.col("bits").bitwiseAND(F.col("_m")) != 0), F.col("_p"))
            ).alias("_hit"),
        )
        .select(*probe_cols, (F.col("_hit") == F.col("_need")).alias(out_col))
    )


# ---------------------------------------------------------------------------
# Misra-Gries / space-saving frequency summary (deterministic, mergeable)
# ---------------------------------------------------------------------------

def _mg_truncate(
    counters: DataFrame, k: int, bucket_col: str | None = None
) -> DataFrame:
    """One MG truncation: subtract the (k+1)-th largest counter value
    (per bucket when `bucket_col` is given) from every counter and drop
    the non-positive ones. Value-based — no row-order dependence —
    so the result is exactly reproducible. Adds the subtracted value
    to the running `delta` column (created at 0 if absent)."""
    part = [bucket_col] if bucket_col else [F.lit(1)]
    w_rank = Window.partitionBy(*part).orderBy(
        F.desc("cnt"), F.asc("item")
    )
    if "delta" not in counters.columns:
        counters = counters.withColumn("delta", F.lit(0).cast("bigint"))
    out = (
        counters.withColumn("rk", F.row_number().over(w_rank))
        .withColumn(
            "_d",
            F.coalesce(
                F.max(F.when(F.col("rk") == k + 1, F.col("cnt"))).over(
                    Window.partitionBy(*part)
                ),
                F.lit(0),
            ),
        )
        .filter(F.col("cnt") - F.col("_d") > 0)
        .select(
            *([bucket_col] if bucket_col else []),
            "item",
            (F.col("cnt") - F.col("_d")).cast("bigint").alias("cnt"),
            (F.col("delta") + F.col("_d")).cast("bigint").alias("delta"),
        )
    )
    return out


def misra_gries(
    df: DataFrame,
    item_col: str,
    k: int = 32,
    n_buckets: int = 8,
) -> DataFrame:
    """Mergeable Misra-Gries frequency summary: ≤ k (item, mg_cnt)
    counters whatever the input size, with the classic guarantees —
    every item of true frequency > N/(k+1) survives, and a surviving
    counter undercounts by exactly the truncation deltas applied along
    its path, which sum to ≤ N/(k+1) GLOBALLY (each truncation δ
    removes ≥ (k+1)·δ of the remaining total mass, so however many
    merges happen the deltas on any path total ≤ N/(k+1)).

    Construction (Agarwal et al., "Mergeable Summaries", PODS 2012):
    an exact count vector is an error-0 MG summary, and MERGE =
    pointwise-sum the counters, then subtract the (k+1)-th largest
    counter value from all and drop the non-positive ones. Stage 1
    builds exact per-bucket counts (bucket = md5(item) first byte mod
    n_buckets — deterministic, so the whole summary is value-
    reproducible across engines and runs) and truncates each bucket to
    k; stage 2 merges the ≤ n_buckets·k survivors and truncates once
    more. Truncation is VALUE-based (subtract the (k+1)-th largest),
    never order-based, so no row-order nondeterminism exists anywhere.

    Scale shape: stage 1 is one hash aggregate keyed on (bucket, item)
    — map-side partial combine means the shuffle carries per-partition
    distinct items, not rows — plus a per-bucket window over the
    bucket's counters; stage 2 is a single window over ≤ n_buckets·k
    rows (kilobytes). For an unbounded-vocabulary stream the same
    merge rule applies per input partition (mapPartitions summaries →
    one merge), trading the deterministic replay for O(partitions·k)
    shuffle; the deterministic-bucket form here is the oracle-able
    twin, exactly like hll_distinct_portable vs hll_distinct_users.
    The streaming twin keeps one summary per micro-batch and folds
    them with `misra_gries_merge` — state bounded by batches·k.

    Returns (item, mg_cnt, delta_total): the surviving counters, each
    with the exact mass subtracted from it (so exact_cnt = mg_cnt +
    delta_total for every survivor — pytest-pinned).
    """
    counts = (
        df.select(F.col(item_col).cast("string").alias("item"))
        .withColumn(
            "bucket",
            F.expr(
                f"CAST(conv(substring(md5(item), 1, 2), 16, 10) AS BIGINT)"
                f" % {n_buckets}"
            ),
        )
        .groupBy("bucket", "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stage1 = _mg_truncate(counts, k, bucket_col="bucket").drop("bucket")
    merged = _mg_truncate(stage1, k)
    return merged.select(
        "item",
        F.col("cnt").alias("mg_cnt"),
        F.col("delta").alias("delta_total"),
    )


def misra_gries_merge(summaries: DataFrame, k: int) -> DataFrame:
    """Merge any number of MG summaries given as stacked counter rows
    (item, mg_cnt[, delta_total]): pointwise-sum per item, then one
    subtract-(k+1)-th-largest truncation — the Agarwal et al. merge
    rule. Deltas accumulate, so exact_cnt == mg_cnt + delta_total
    holds for a survivor that itself survived every input summary it
    appeared in (the identity the streaming test pins). An item
    truncated out of some input lost that input's mass without a
    matching delta, so for such survivors mg_cnt + delta_total only
    LOWER-bounds exact_cnt; the general guarantee is the N/(k+1)
    undercount bound (each truncation of depth d removes >= (k+1)*d
    total remaining mass).

    The continuous-ingest shape: each micro-batch contributes its ≤ k
    counters and the fold stays ≤ inputs·k rows before the final
    window — a streaming heavy-hitter state that never grows with the
    data (tests/test_streaming.py pins finalize == guarantees)."""
    cols = summaries.columns
    base = summaries.select(
        "item",
        F.col("mg_cnt").alias("cnt"),
        (
            F.col("delta_total") if "delta_total" in cols else F.lit(0)
        ).cast("bigint").alias("delta"),
    )
    summed = base.groupBy("item").agg(
        F.sum("cnt").alias("cnt"), F.sum("delta").alias("delta")
    )
    out = _mg_truncate(summed, k)
    return out.select(
        "item",
        F.col("cnt").alias("mg_cnt"),
        F.col("delta").alias("delta_total"),
    )
