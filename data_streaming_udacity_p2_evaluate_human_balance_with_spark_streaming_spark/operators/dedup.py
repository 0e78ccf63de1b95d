"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, and embedding-cosine near-dup.

Everything is built from JVM-side primitives (xxhash64, transform,
aggregate, explode, groupBy) — no Python in the hot path. The LSH
family follows the standard shingle → minhash → band → bucket-join
construction (Broder; MMDS ch.3): candidate generation is a single
groupBy on (band_id, band_hash) — i.e. ONE shuffle whose width is the
number of near-duplicate buckets, never O(n²) pairs. At 100 TB this is
the only shape that survives: brute-force pairing is quadratic, while
banding only materializes colliding candidates.

No dedup exists in the reference (SURVEY.md §2.5); north-star
extension per BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import MOD31 as MOD  # 31-bit hashes: ANSI-overflow-safe
from ..functions.hashing import char_shingles, minhash_perm, word_shingles
from .graphs import _free, _sym_edges


def exact_dedup(docs: DataFrame, key: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per identical payload. One
    hash-aggregate shuffle on the (hashed) payload."""
    return docs.groupBy(key).agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))


#: re-exports (public operator API; implementations in functions.hashing)
shingles = word_shingles


def _drop_mega_buckets(df: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """Bucket-size gate shared by the LSH families: remove every row
    whose bucket (the `keys` tuple) holds more than `max_bucket`
    members. Shape: a hash aggregate counts buckets (map-side partials
    — the exchange carries per-partition distinct buckets, not rows),
    the handful of buckets OVER the cap broadcasts, and a LEFT ANTI
    join drops their rows. Chosen over the count-window form after
    measurement: the window shuffles AND SORTS the full table (+36% on
    the minhash path at sf0.1), while the flooded-bucket set is tiny by
    definition (≤ n/max_bucket entries), so the anti join is a
    broadcast and the only new exchange carries bucket counts."""
    flooded = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket)
        .select(*keys)
    )
    return df.join(F.broadcast(flooded), keys, "left_anti")


def _bucket_self_join(table: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Candidate generation shared by the LSH families: rows of `table`
    (`_id` plus the two-column bucket `keys`) that share a bucket, as
    the `l`/`r`-aliased self-join with l._id < r._id. The table is
    pinned FIRST with a lazy localCheckpoint, so no consumer (the gate's
    count branch, the gate's anti-join left side, either join side)
    recomputes the expensive hashing that built it. localCheckpoint, not
    persist(): a CacheManager entry is matched by plan and file path, so
    a later call over a rewritten directory would read stale rows (the
    plans/olap.py q15 rule). `max_bucket` drops flooded buckets first
    (_drop_mega_buckets); None disables the gate."""
    table = table.localCheckpoint(eager=False)
    if max_bucket is not None:
        table = _drop_mega_buckets(table, keys, max_bucket)
    l, r = table.alias("l"), table.alias("r")
    k1, k2 = keys
    return l.join(
        r,
        (F.col(f"l.{k1}") == F.col(f"r.{k1}"))
        & (F.col(f"l.{k2}") == F.col(f"r.{k2}"))
        & (F.col("l._id") < F.col("r._id")),
    )


def lsh_band_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    shingle_mode: str = "word",
) -> DataFrame:
    """(_id, band, bucket) LSH banding triples for a corpus — the
    shared signature stage of the self-join (minhash_lsh_candidates)
    and cross-corpus (incremental_near_dup) pipelines. In production
    this IS the near-dup index: computed once per corpus snapshot,
    stored banded, and probed by each incoming batch.

    Shingle → EXPLODE → hash per row → `num_hashes` min()
    hash-aggregates. Higher-order lambdas (transform/array_min) are
    interpreted per-element; a groupBy with plain min aggregates stays
    inside whole-stage codegen — measured ~3× faster at sf0.1. The
    shuffle this introduces carries only (id, num_hashes partial mins)
    per map partition thanks to map-side combine.

    r12 refinements, same output bit-for-bit: (a) the word-mode token
    split is hoisted into its own projection so the shingle lambda
    slices a COLUMN instead of re-evaluating split(text) per shingle
    (the old expression was O(len²) character work per document);
    (b) xxhash64 runs per exploded ROW (whole-stage codegen) instead of
    inside an interpreted transform lambda per array element."""
    rows = num_hashes // bands
    if shingle_mode == "word":
        toked = docs.select(
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_txt"),
            F.split(F.col(text_col), " ").alias("_t"),
        )
        sh = F.expr(
            f"CASE WHEN size(_t) < {shingle_k} THEN array(_txt) "
            f"ELSE transform(sequence(1, size(_t) - {shingle_k - 1}), "
            f"i -> array_join(slice(_t, i, {shingle_k}), ' ')) END"
        )
    else:
        toked = docs.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")
        )
        sh = char_shingles("_txt", shingle_k)
    hashed_df = toked.select("_id", F.explode(sh).alias("_s")).select(
        "_id", F.expr(f"pmod(xxhash64(_s), {MOD})").alias("h")
    )
    sig = hashed_df.groupBy("_id").agg(
        *[
            F.min(F.expr(minhash_perm("h", j))).alias(f"mh_{j}")
            for j in range(num_hashes)
        ]
    ).select("_id", F.array(*[f"mh_{j}" for j in range(num_hashes)]).alias("sig"))
    return sig.select(
        "_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"struct(b AS band, xxhash64(array_join(slice(sig, b * {rows} + 1, {rows}), ',')) AS bucket))"
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    shingle_mode: str = "word",
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-dup candidate pairs via LSH banding: docs sharing any band
    of their minhash signature collide. Returns (doc_a, doc_b) with
    doc_a < doc_b, deduplicated across bands. shingle_mode="char"
    switches to k-char shingles (code/CJK robustness).

    Scale shape: explode to `bands` rows/doc → groupBy band bucket →
    pairs only within buckets. `max_bucket` guards the quadratic
    ceiling exactly as in simhash_near_dups: a band bucket flooded by
    boilerplate/replay spam (every copy has an identical signature, so
    every band collides) would self-join quadratically; buckets larger
    than the cap are dropped from candidate generation — exact dedup
    already collapses identical payloads, and near-identical floods
    surface through their OTHER, un-flooded bands. The gate is a
    count + broadcast-anti-join on the flooded buckets
    (_drop_mega_buckets) — measured cheaper than a count window, which
    would sort the full banded table. Pass None to disable (exact
    small-corpus semantics — the oracle-parity configuration).
    """
    banded = lsh_band_table(
        docs,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        shingle_mode=shingle_mode,
    )
    # shingling + 32 permutations are the expensive part: the helper
    # pins the (_id, band, bucket) triples before the gate and the join
    return (
        _bucket_self_join(banded, ["band", "bucket"], max_bucket)
        .select(F.col("l._id").alias("doc_a"), F.col("r._id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    shingle_mode: str = "word",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (the verify
    step after LSH). Joins the shingle sets back to the pairs.

    Shape (r4 rework): `pairs` feeds three consumers (the candidate-id
    set and both set joins) and the shingle sets feed two — without
    materialization each consumer re-runs its whole upstream (the LSH
    band join, the corpus shingling), i.e. up to THREE shingle passes
    per near-dup query. Both frontiers are pinned with LAZY
    localCheckpoint (materialize on first use; ContextCleaner frees the
    blocks when the frame is dereferenced — no CacheManager entry to
    leak across a long session, the q15 lesson). Shingle sets are built
    only for docs that appear in some candidate pair (semi-join first):
    at a realistic dup rate that's a small fraction of the corpus, so
    the expensive array_distinct(shingles) runs on candidates only —
    the only shape that survives 100 TB. AQE picks the semi-join
    strategy (broadcast at bench scale).

    r13 NEGATIVE RESULT (don't retry): replacing the per-pair
    array_intersect/array_union with the count-join verify that won
    ~2× on setsim (exploded shingles, two hash joins + a count
    aggregate) measured 3.5× SLOWER here in an interleaved same-JVM
    A/B at sf0.1 (word 0.14 → 0.50 s, char 1.64 → 5.68 s end-to-end).
    The two verifies cross over on CANDIDATE DENSITY: setsim's
    lossless prefix filter admits dense candidate sets where per-pair
    interpreted intersection dominated (7.3 s of 11), while LSH
    banding is selective BY DESIGN (candidates ≈ true dups + band
    collisions at any scale), so the count-join's extra exchanges/
    stages cost more than the few interpreted intersections they
    replace."""
    shingle_fn = word_shingles if shingle_mode == "word" else char_shingles
    pairs = pairs.localCheckpoint(eager=False)
    cand_ids = (
        pairs.select(F.col("doc_a").alias(id_col))
        .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sets_df = (
        docs.join(cand_ids, id_col, "left_semi")
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(shingle_fn(text_col, shingle_k)).alias("sset"),
        )
        .localCheckpoint(eager=False)
    )
    return (
        pairs.join(sets_df.withColumnRenamed("_id", "doc_a").withColumnRenamed("sset", "set_a"), "doc_a")
        .join(sets_df.withColumnRenamed("_id", "doc_b").withColumnRenamed("sset", "set_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("set_a", "set_b")).cast("double")
                / F.size(F.array_union("set_a", "set_b"))
            ).alias("jaccard"),
        )
    )


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    shingle_mode: str = "word",
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify →
    threshold. Output (doc_a, doc_b, jaccard). Soundness is exact by
    construction (the verify step recomputes true Jaccard); recall is
    the LSH bands curve, 1-(1-j^r)^b — ~0.9998 at j=0.9 with 8×4."""
    cands = minhash_lsh_candidates(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
        shingle_mode=shingle_mode,
        max_bucket=max_bucket,
    )
    return ngram_jaccard(
        docs, cands, shingle_k=shingle_k, shingle_mode=shingle_mode
    ).filter(F.col("jaccard") >= threshold)


def simhash(col: str = "text", bits: int = 64):
    """SimHash: sign-sum of per-token hash bits, packed to a bigint.
    Pure built-ins: aggregate over the token-hash array with a
    64-slot accumulator."""
    return F.expr(
        f"aggregate("
        f"  transform(split({col}, ' '), t -> xxhash64(t)),"
        f"  array_repeat(CAST(0 AS BIGINT), {bits}),"
        f"  (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),"
        f"              (a, i) -> a + CASE WHEN shiftright(h, i) & 1 = 1 THEN 1 ELSE -1 END),"
        f"  acc -> aggregate(zip_with(acc, sequence(0, {bits - 1}),"
        f"         (a, i) -> CASE WHEN a > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END),"
        f"         CAST(0 AS BIGINT), (s, x) -> s + x))"
    )


def simhash_agg(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    packed: bool = True,
) -> DataFrame:
    """SimHash via explode + hash-aggregate (codegen-friendly twin of
    `simhash`): one row per token, then per-doc sign-sums — the same
    explode→groupBy shape that made minhash ~3× faster than the
    interpreted higher-order-function form.

    packed=True (default, r4): the 64 per-bit counters ride in 16-bit
    LANES, four to a bigint — 16 sums + a count instead of 64 sums,
    measured ~35% faster at sf0.1 with bit-identical signatures. Lane
    encoding: each token adds 2 to its bit's lane iff the bit is set
    (never negative → lane adds cannot borrow into neighbors); the
    sign of the ±1 sum is recovered as lane_value > n_tokens
    (2·set − n > 0), ties → 0, exactly the unpacked rule.
    PRECONDITION: n_tokens per doc < 32768 (2·n must fit a lane).
    For corpora with longer documents pass packed=False (the plain
    64-sum form has no bound) or pre-chunk — the planted-signature
    parity test certifies both forms equal."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(text_col, " ")).alias("tok"),
    ).select("_id", F.xxhash64("tok").alias("h"))
    if packed:
        lanes_per_word = 4
        nwords = bits // lanes_per_word
        packs = [
            F.expr(
                " + ".join(
                    f"(shiftleft((shiftright(h, {w * lanes_per_word + j}) & 1)"
                    f" * CAST(2 AS BIGINT), {16 * j}))"
                    for j in range(lanes_per_word)
                )
            ).alias(f"p{w}")
            for w in range(nwords)
        ]
        sums = toks.select("_id", *packs).groupBy("_id").agg(
            F.count(F.lit(1)).alias("nt"),
            *[F.sum(f"p{w}").alias(f"s{w}") for w in range(nwords)],
        )
        packed_expr = " + ".join(
            f"CASE WHEN ((s{w} >> {16 * j}) & 65535) > nt"
            f" THEN shiftleft(CAST(1 AS BIGINT), {w * lanes_per_word + j})"
            f" ELSE CAST(0 AS BIGINT) END"
            for w in range(nwords)
            for j in range(lanes_per_word)
        )
        return sums.select("_id", F.expr(packed_expr).alias("sh"))
    sums = toks.groupBy("_id").agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN shiftright(h, {i}) & 1 = 1 THEN 1 ELSE -1 END")
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    packed_expr = " + ".join(
        f"CASE WHEN b{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    return sums.select("_id", F.expr(packed_expr).alias("sh"))


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """SimHash near-dup: candidates must share ≥1 of `chunks` 16-bit
    chunks, then exact hamming filter via bit_count(xor). Same
    bucket-join shape as MinHash LSH — never O(n²).

    Recall guarantee is the pigeonhole bound: a pair with hamming <
    `chunks` differing bits must leave at least one chunk untouched, so
    candidate coverage is TOTAL only for max_hamming ≤ chunks - 1 (the
    default). Callers may pass a larger max_hamming, accepting that
    pairs whose differing bits touch every chunk are missed; widening
    `chunks` instead shrinks the chunk width and inflates random bucket
    collisions toward O(n²/2^width) — at 64 bits, 4×16 is the standard
    operating point (Manku et al., WWW'07 use 4-way splits likewise).

    `max_bucket` guards the quadratic ceiling: with 16-bit chunks,
    RANDOM collisions per bucket grow as n/2¹⁶, so beyond ~10⁸ docs a
    chunk value can accumulate millions of members and its self-join
    goes quadratic. Buckets exceeding `max_bucket` members are dropped
    from candidate generation entirely — such floods are boilerplate /
    replay spam (identical or near-identical text), which exact dedup
    and the streaming simhash filter already handle; the self-join
    cost is then bounded by chunks × n × max_bucket instead of n².
    Pass None to disable (exact small-corpus semantics)."""
    width = 64 // chunks
    sh = simhash_agg(docs, id_col, text_col)
    chunked = sh.select(
        "_id",
        "sh",
        F.explode(
            F.expr(
                f"transform(sequence(0, {chunks - 1}), c -> "
                f"struct(c AS chunk, shiftright(sh, c * {width}) & {(1 << width) - 1} AS ck))"
            )
        ).alias("cc"),
    ).select("_id", "sh", "cc.chunk", "cc.ck")
    # the helper pins the chunk table (4 ints per row — tiny) so no
    # consumer recomputes the O(tokens × 64) simhash aggregate
    return (
        _bucket_self_join(chunked, ["chunk", "ck"], max_bucket)
        .select(
            F.col("l._id").alias("doc_a"),
            F.col("r._id").alias("doc_b"),
            F.expr("bit_count(l.sh ^ r.sh)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 12,
    stats: dict | None = None,
) -> DataFrame:
    """Cluster assignment over a near-dup pair graph: each node gets
    cluster = the minimum node id of its connected component once the
    loop reaches its fixpoint within `max_iter` rounds (a cap only —
    `stats["converged"]` says whether the fixpoint ended the loop).
    Dedup "keep one per cluster" then drops everything where
    node != cluster.

    Pregel-style min-label propagation, one keyed shuffle join + one
    hash aggregate per round; state is (node, label) int pairs, never
    adjacency blowups. Near-dup graphs are SHALLOW (near-dups of a doc
    are near-dups of each other, so components are quasi-cliques) and
    converge in 2-3 rounds; the loop exits as soon as the (strictly
    monotone) label sum stops decreasing — fixpoint detection for one
    cheap aggregate per round.

    Deep components: from round 3 on, each round adds a path-halving
    shortcut join, label ← least(label, label(label)) — the pointer
    jumping of the large-star/small-star family (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"). Round 3 is reached
    only when both earlier rounds changed the label sum, so shallow
    graphs keep the one-join plan while a 64-edge path converges
    exactly within the default cap where plain propagation needs 64
    rounds (tests/test_dedup_similarity.py). Labels are always
    existing node ids, so the shortcut's inner join loses no row.

    Iterative algorithms REQUIRE lineage truncation: each round
    references the previous labels twice (message join + union), so an
    un-truncated recursion doubles the logical plan per round — 2^8
    copies of the upstream pair-generation plan OOMs the driver during
    ANALYSIS, before any data moves. localCheckpoint per iteration
    (the same strategy GraphX uses) materializes each frontier and
    resets its plan to a leaf. This makes the operator eager by
    design — an honest property of fixpoint loops on Spark.

    Superseded frontiers are freed EAGERLY: checkpoint blocks are not
    evictable and spark.catalog.clearCache() does not touch them, so
    without explicit release every call would strand max_iter+1 block
    sets in executor storage until a driver GC — measured degrading
    subsequent heavy queries in the same session by 2-3×. Only the
    final labels' blocks survive (the returned DataFrame reads them);
    callers wanting a fully clean session can unpersist via the same
    analyzed-plan handle after materializing."""
    # repartition BY KEY with NO explicit count before checkpointing:
    # the symmetrized union would otherwise checkpoint at 2× the input
    # partition count (64 static partitions for a few thousand edges at
    # sf0.1), and every iteration's join re-reads them as a 64-task
    # stage. A count-less hash repartition lets AQE size the layout to
    # the data (1 partition for small graphs, proportional at 100 TB),
    # cutting per-iteration wall ~2× on the bench graphs.
    # Pin the symmetrized pair list ONCE (r12): `nodes` and `edges`
    # both consume it, and with an un-pinned sym each eager checkpoint
    # re-executed the caller's ENTIRE pair pipeline (for the linkage /
    # minhash-cluster queries that is a blocked O(block²) scoring join
    # or the full LSH verify chain — measured as the dominant cost of
    # entity_resolution_clusters, two 4.5M-row pair builds per call).
    sym0 = _sym_edges(pairs, a_col, b_col).localCheckpoint(eager=False)
    # SELF-LOOP edges (node→node): min-over-messages then includes the
    # node's own label, so the propagation step is ONE join + ONE
    # aggregate with no union in the loop — both cheaper and immune to
    # the Catalyst union-constraint failure (UnionBase.rewriteConstraints
    # throws `key not found: node#...`) hit when a union child's
    # constraints reference the shortcut join's frontier attributes
    # (NOTES.md r4)
    # node set computed ONCE: it seeds both the self-loops and the
    # initial labels (a second distinct over the symmetrized edges
    # would repeat the aggregate)
    nodes = sym0.select("src").distinct().localCheckpoint(eager=False)
    edges = (
        sym0.unionByName(nodes.select("src", F.col("src").alias("dst")))
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    labels = nodes.select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    # convergence signal: labels only ever DECREASE (min-propagation
    # and the shortcut both take minima), so the label sum is strictly
    # monotone until fixpoint — an unchanged sum means converged. One
    # overflow-safe aggregate per round, far cheaper than a
    # changed-rows join.
    def _label_sum(df: DataFrame):
        return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = _label_sum(labels)
    iterations, converged = 0, False
    while iterations < max_iter:
        # self-loops make the union redundant: messages to dst
        # already include dst's own label. LAZY checkpoint + let the
        # convergence collect materialize it: one job per round instead
        # of an eager-checkpoint job PLUS the label-sum job (r12 —
        # halves the round count's scheduling).
        propagated = (
            edges.join(labels, edges["src"] == labels["node"])
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        iterations += 1
        new_labels = propagated
        if iterations >= 3:
            # path halving on the checkpointed (leaf) propagation
            l, m = propagated.alias("l"), propagated.alias("m")
            new_labels = (
                l.join(m, F.col("l.label") == F.col("m.node"))
                .select(
                    F.col("l.node").alias("node"),
                    F.least(F.col("l.label"), F.col("m.label")).alias("label"),
                )
                .localCheckpoint(eager=False)
            )
        s = _label_sum(new_labels)  # materializes this round's checkpoints
        _free(labels)  # predecessor blocks no longer referenced
        if new_labels is not propagated:
            _free(propagated)  # the shortcut's input
        labels = new_labels
        if s == prev_sum:
            converged = True
            break
        prev_sum = s
    # the returned labels are materialized (the last label-sum job), so
    # the edge/node/sym checkpoints can be released now
    _free(edges)
    if iterations > 0:
        # the initial labels frame was a PROJECTION of the nodes
        # checkpoint; once the first iteration materialized its own
        # checkpoint nothing reads nodes anymore
        _free(nodes)
        _free(sym0)
    if stats is not None:
        # observability for tests/operators: how many propagation rounds
        # ran and whether the fixpoint (not the iteration cap) ended them
        stats["iterations"] = iterations
        stats["converged"] = converged
    return labels.select("node", F.col("label").alias("cluster"))


def streaming_near_dup_filter(
    docs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming ingest dedup: drop documents whose 64-bit SimHash
    collides with one already seen inside the watermark horizon.
    Exact simhash equality ⇒ near-identical text (64 sign-bits all
    agree), so this suppresses boilerplate/replay floods at ingest
    with ONE bigint of state per distinct document shape — the
    streaming face of the batch near-dup pipeline.

    Uses dropDuplicatesWithinWatermark (RocksDB state store per
    session.py): with a subset that does NOT include the event-time
    column, plain dropDuplicates would never evict its state — the
    WithinWatermark variant expires each key once the watermark passes
    its last-seen time, so state is bounded by the distinct document
    shapes per horizon.
    """
    with_sig = docs.withColumn("simhash", simhash(text_col))
    return with_sig.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["simhash"]
    )


def ngram_overlap_join(
    train: DataFrame,
    evalset: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Cross-corpus n-gram overlap — the decontamination primitive:
    for every train document, count the distinct k-gram shingles it
    shares with ANY eval/benchmark document. Training corpora are
    filtered on this before a model ever sees a benchmark answer.

    Scale shape: both sides explode to (id, md5(shingle)) rows — the
    join key is a 32-byte digest, never the shingle text — then one
    hash-join on the digest, distinct, and a count per train doc. The
    eval side (benchmarks: thousands of docs) is tiny next to the
    training corpus, so it broadcasts; the train side never shuffles
    on anything wider than the digest. No dedup/decontamination exists
    in the reference (SURVEY.md §2.5); north-star extension."""

    def exploded(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out_id),
            F.explode(
                F.array_distinct(word_shingles(text_col, shingle_k))
            ).alias("_sh"),
        ).select(out_id, F.md5("_sh").alias("_h"))

    train_sh = exploded(train, "train_id")
    eval_sh = exploded(evalset, "eval_id").select("_h").distinct()
    return (
        train_sh.join(F.broadcast(eval_sh), "_h")
        .select("train_id", "_h")
        .distinct()
        .groupBy("train_id")
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def embedding_near_dups(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 3,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Embedding-cosine near-dup via OR-amplified random-hyperplane LSH
    prefilter + exact cosine verify.

    A single hyperplane table misses any pair that flips even one plane
    (measured 83/100 on the planted benchmark with 12 planes). Instead,
    `n_tables` INDEPENDENT tables of `n_planes` planes each (table t
    uses plane ids t*n_planes..): a pair is a candidate if it shares a
    bucket in ANY table — miss probability decays as miss_1^B (measured
    100/100 planted pairs at 8×3). Candidate generation stays a hash
    equi-join on (table, bucket) — never all-pairs; the self-join
    shuffles only (_id, tab, bucket) int triples, and vectors are
    re-joined only for the surviving candidate pairs (candidates <<
    corpus at any realistic dup rate). At larger corpora raise
    `n_planes` (halves bucket occupancy per extra plane) and `n_tables`
    to hold recall. `max_bucket` is the same quadratic-ceiling guard as
    the minhash/simhash paths: a (table, bucket) cell flooded by
    identical embeddings (re-encoded boilerplate) is dropped from
    candidate generation via the count + broadcast-anti gate
    (_drop_mega_buckets). Pass None to disable."""
    from ..functions.vectors import infer_dim
    from .similarity import cosine_expr, hyperplane_bucket

    dim = infer_dim(embeddings, vec_col)
    emb = embeddings.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("tab"),
                hyperplane_bucket(
                    "v", n_planes=n_planes, n_dims=dim, plane_offset=t * n_planes
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    # (id, tab, bucket) triples only — the helper pins them, so the
    # bucket dots are computed once and the self-join doesn't evaluate
    # 2×tables×planes dot products per row.
    bucketed = emb.select("_id", F.explode(tables).alias("tb")).select(
        "_id", "tb.tab", "tb.bucket"
    )
    pairs = (
        _bucket_self_join(bucketed, ["tab", "bucket"], max_bucket)
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    return (
        pairs.join(emb.select(F.col("_id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(emb.select(F.col("_id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .select("id_a", "id_b", cosine_expr("va", "vb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def sparse_cosine_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.30,
    shingle_k: int = 3,
    df_cap: int = 64,
) -> DataFrame:
    """All-pairs sparse-vector cosine similarity via an inverted-index
    (postings) join — the exact counterpart to LSH near-dup: each doc
    is an idf-weighted bag of its k-gram shingles, and pairs are
    generated ONLY for docs sharing a posting, never all-pairs
    (Elsayed/Lin/Oard's MapReduce pairwise-similarity construction).

    Scale shape: one explode to (doc, shingle) rows; document
    frequencies by one hash aggregate; the postings join self-joins on
    the shingle key, so the pair fan-out per shingle is df² — `df_cap`
    drops postings for shingles more common than the cap BEFORE the
    join, which is simultaneously the idf rationale (df ≈ corpus ⇒
    idf ≈ 0 ⇒ negligible contribution) and the hard quadratic guard
    (pairs per shingle ≤ df_cap²). At 100 TB the postings key would be
    md5(shingle) (16-byte digest, not text) — kept as text here so the
    DuckDB oracle can replicate the join byte-for-byte.

    Float parity (cross-engine exactness): weights are INTEGER
    w(t) = floor(1e6 / df(t)), contributions w², summed as BIGINT —
    integer addition is associative, so Spark's partition-order
    aggregation and DuckDB's sequential scan agree exactly. Norms stay
    < 2^53, so the final double conversion, multiply, sqrt, and divide
    are IEEE-identical on identical operands. Never sum raw doubles
    across engines (NOTES.md decimal/double rules).

    Returns (doc_a, doc_b, cosine ≥ threshold) with doc_a < doc_b.
    """
    sets_df = docs.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(word_shingles(text_col, shingle_k)).alias("sset"),
    )
    # ex feeds the df aggregate AND the postings join: pin it so the
    # corpus is shingled ONCE (the ngram_jaccard lesson — un-pinned
    # frontiers re-run their whole upstream per consumer)
    ex = sets_df.select("_id", F.explode("sset").alias("sh")).localCheckpoint(
        eager=False
    )
    wtab = (
        ex.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))  # sset distinct ⇒ count = doc freq
        .filter(F.col("_df") <= df_cap)
        .select(
            "sh",
            (
                F.floor(F.lit(1_000_000.0) / F.col("_df")).cast("long")
                * F.floor(F.lit(1_000_000.0) / F.col("_df")).cast("long")
            ).alias("wsq"),
        )
    )
    # postings feed three consumers (norms + both self-join sides):
    # lazy localCheckpoint so shingling/df run once (ContextCleaner
    # frees the blocks on dereference — the q15 lesson)
    post = ex.join(wtab, "sh").localCheckpoint(eager=False)
    norms = post.groupBy("_id").agg(F.sum("wsq").alias("nrm"))
    l, r = post.alias("l"), post.alias("r")
    num = (
        l.join(
            r,
            (F.col("l.sh") == F.col("r.sh")) & (F.col("l._id") < F.col("r._id")),
        )
        .groupBy(F.col("l._id").alias("doc_a"), F.col("r._id").alias("doc_b"))
        .agg(F.sum("l.wsq").alias("_num"))
    )
    cos = F.col("_num").cast("double") / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    return (
        num.join(norms.select(F.col("_id").alias("doc_a"), F.col("nrm").alias("na")), "doc_a")
        .join(norms.select(F.col("_id").alias("doc_b"), F.col("nrm").alias("nb")), "doc_b")
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def prefix_filter_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join (Jaccard ≥ threshold) via prefix
    filtering (SSJoin/PPJoin family) — the lossless counterpart to the
    probabilistic MinHash pipeline: identical output contract
    (doc_a, doc_b, jaccard), provably zero false negatives.

    Prefix theorem: order the shingle vocabulary by a global total
    order (document frequency asc, shingle asc — rarest first). If
    J(x,y) ≥ t then |x∩y| ≥ t·|x|, and the first common shingle (in
    that order) sits within the first |x| − ⌈t·|x|⌉ + 1 shingles of x
    (at most |x| − |x∩y| non-shared shingles precede it) — and
    symmetrically for y. So docs sharing NO prefix shingle cannot reach
    the threshold, and a hash self-join on exploded prefixes finds
    every qualifying pair. A symmetric length filter
    (min(|x|,|y|) ≥ t·max(|x|,|y|), necessary since J ≤ min/max) prunes
    further before the verify.

    Scale shape: prefixes prefer the RAREST shingles, so posting lists
    under the join are short by construction (the frequency order is
    itself the skew guard — boilerplate shingles sort last and rarely
    enter prefixes). Per-doc prefix extraction is sort_array over that
    doc's own (df, shingle) structs — bounded per-row work, no window.
    The self-join carries (id, size, position, xxhash64(shingle)) int
    quads — never shingle text (a hash collision can only ADD a
    candidate, which the exact verify removes; losslessness is
    unaffected). PPJoin's positional filter prunes candidates whose
    shared prefix token sits too late for the required overlap
    α = ⌈t/(1+t)·(|x|+|y|)⌉ to still be reachable:
    1 + min(|x|−pa, |y|−pb) ≥ α (measured 4× candidate reduction at
    sf0.1). Verify reuses ngram_jaccard (exact, candidates-only
    shingling).
    """
    def _safe_ceil(x):
        # ⌈t·sz⌉ with float-overshoot protection: a product like
        # 0.07*100 evaluates to 7.000000000000001 and a raw ceil would
        # shorten the prefix by one token, silently breaking the
        # zero-false-negative guarantee for non-binary-exact
        # thresholds. Shrinking by relative 1e-12 (≫ the 2.2e-16
        # double ulp, ≪ any real 1/sz gap to the next integer) cancels
        # the overshoot; when the exact product IS an integer the
        # shrunken value still ceils to it. Errs only toward a
        # one-longer prefix / one-lower alpha — both lossless.
        return F.ceil(x * F.lit(1.0 - 1e-12))

    sets_df = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(word_shingles(text_col, shingle_k)).alias("sset"),
        )
        .localCheckpoint(eager=False)  # feeds df-count + prefix build
    )
    ex = sets_df.select("_id", F.size("sset").alias("sz"), F.explode("sset").alias("sh"))
    df_tab = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    # global order = (df, shingle); per-doc prefix = first
    # sz - ceil(t*sz) + 1 entries of the doc's shingles in that order,
    # with 1-based position for the positional filter
    prefix = (
        ex.join(df_tab, "sh")
        .groupBy("_id", "sz")
        .agg(F.sort_array(F.collect_list(F.struct("_df", "sh"))).alias("_ord"))
        .select(
            "_id",
            "sz",
            F.posexplode(
                F.slice(
                    "_ord",
                    F.lit(1),
                    (F.col("sz") - _safe_ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int"),
                )
            ).alias("_pos0", "_p"),
        )
        .select(
            "_id",
            "sz",
            (F.col("_pos0") + 1).alias("pos"),
            F.xxhash64(F.col("_p.sh")).alias("hk"),
        )
    )
    l, r = prefix.alias("l"), prefix.alias("r")
    alpha = _safe_ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("l.sz") + F.col("r.sz"))
    )
    cands = (
        l.join(
            r,
            (F.col("l.hk") == F.col("r.hk"))
            & (F.col("l._id") < F.col("r._id"))
            # symmetric length filter: J(x,y) ≤ min/max
            & (
                F.least(F.col("l.sz"), F.col("r.sz"))
                >= F.lit(threshold) * F.greatest(F.col("l.sz"), F.col("r.sz"))
            )
            # positional filter: overlap still reachable past this token
            & (
                F.lit(1)
                + F.least(
                    F.col("l.sz") - F.col("l.pos"), F.col("r.sz") - F.col("r.pos")
                )
                >= alpha
            ),
        )
        .select(F.col("l._id").alias("doc_a"), F.col("r._id").alias("doc_b"))
        .distinct()
    )
    # Exact verify via a COUNT join, not array_intersect: a lossless
    # prefix join on a share-heavy corpus yields orders of magnitude
    # more candidates than LSH banding does, and interpreted per-row
    # array intersection over every candidate dominated the query
    # (measured 7.3 s of 11 s at sf0.1; the count-join form is pure
    # codegen hash joins + one aggregate). The overlap join keys on the
    # SHINGLE TEXT, not a hash — output values must be exact.
    ex2 = ex.select("_id", "sz", "sh").localCheckpoint(eager=False)
    o_tab = (
        cands.join(
            ex2.select(F.col("_id").alias("doc_a"), F.col("sz").alias("sza"), "sh"),
            "doc_a",
        )
        .join(
            ex2.select(F.col("_id").alias("doc_b"), F.col("sz").alias("szb"), "sh"),
            ["doc_b", "sh"],
        )
        .groupBy("doc_a", "doc_b", "sza", "szb")
        .agg(F.count(F.lit(1)).alias("_o"))
    )
    return o_tab.select(
        "doc_a",
        "doc_b",
        (
            F.col("_o").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("_o"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def incremental_near_dup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket: int | None = 100_000,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus NEAR-dup: which incoming batch documents are
    near-duplicates of something already in the corpus — the LSH
    complement to the exact-digest incremental_ingest_dedup query
    (that one only catches byte-identical payloads; this catches the
    lightly-edited re-crawls that dominate real ingest).

    Scale shape: both sides go through lsh_band_table; candidates come
    from a (band, bucket) EQUI-join of batch bands against corpus
    bands — in production the corpus table is the precomputed index
    (build once per snapshot, probe per batch), so per-batch cost is
    O(batch signatures + collisions), never O(corpus). The mega-bucket
    gate runs on the CORPUS side (the flood side — a boilerplate
    bucket there would fan every batch doc out quadratically). Verify
    is exact Jaccard over the union frame (ids must be disjoint across
    the two sides — true for any id scheme worth having).

    Pass `corpus_bands` (a persisted/stored lsh_band_table of the
    corpus, e.g. read back from parquet) to skip re-signing the corpus
    — the build-once-probe-many path; it must have been built with the
    SAME num_hashes/bands/shingle parameters or recall silently drops
    to zero (different bucket spaces never collide).

    Returns (batch_id, corpus_id, jaccard ≥ threshold)."""
    bb = lsh_band_table(
        batch, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
    ).localCheckpoint(eager=False)
    cb = (
        corpus_bands
        if corpus_bands is not None
        else lsh_band_table(
            corpus, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        ).localCheckpoint(eager=False)
    )
    if max_bucket is not None:
        cb = _drop_mega_buckets(cb, ["band", "bucket"], max_bucket)
    cands = (
        bb.alias("b")
        .join(
            cb.alias("c"),
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.bucket") == F.col("c.bucket")),
        )
        .select(F.col("b._id").alias("doc_a"), F.col("c._id").alias("doc_b"))
        .distinct()
    )
    both = corpus.select(id_col, text_col).unionByName(
        batch.select(id_col, text_col)
    )
    return (
        ngram_jaccard(both, cands, id_col=id_col, text_col=text_col, shingle_k=shingle_k)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("doc_a").alias("batch_id"),
            F.col("doc_b").alias("corpus_id"),
            "jaccard",
        )
    )


def max_dup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_k: int = 8,
    min_len: int = 20,
) -> DataFrame:
    """Maximal duplicated substring spans — the ExactSubstr dedup
    modality (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): report, per document, every MAXIMAL
    token span of length ≥ `min_len` whose every `seed_k`-token
    window occurs at least twice in the corpus (across documents OR
    repeated within one). Complements chunk_exact_dedup (fixed-stride
    chunks miss spans straddling chunk boundaries) and winnowing
    (which samples fingerprints — this covers every position).

    Construction (suffix-array semantics without the suffix array):
    a token position p is COVERED when the k-gram starting at p has
    global occurrence count ≥ 2; a maximal run of consecutive covered
    positions [s, e] certifies the token span [s, e + k − 1] is
    duplicated in every k-window, which for runs ≥ min_len − k + 1 is
    exactly the "every length-≥L substring that appears twice"
    removal set of ExactSubstr (L = min_len) at token granularity.
    Runs are found with the gaps-and-islands trick
    (p − row_number() is constant within a run).

    Scale shape — and why this beats pairwise span chaining at
    100 TB: occurrences are never PAIRED (no (occurrence × occurrence)
    join, so a boilerplate k-gram repeated 10^6 times costs 10^6 rows,
    not 10^12); the pipeline is one scan + sliding-window digests
    projected to (doc, pos, 16-byte md5) before any exchange, one
    hash-aggregate on the digest (map-side combined), one equi-join
    back, and one per-document window (bounded by document length,
    never corpus-wide). Digests are md5 of the space-joined window —
    byte-replayable in any engine (the chunk_exact_dedup recipe).

    Returns (doc_id, start_tok, end_tok, span_len) with 1-based
    inclusive token positions, span_len = end − start + 1 ≥ min_len.
    """
    w = docs.select(
        F.col(id_col).alias("_id"), F.split(text_col, " ").alias("w")
    ).filter(F.size("w") >= seed_k)
    grams = w.select(
        "_id",
        F.explode(F.sequence(F.lit(1), F.size("w") - seed_k + 1)).alias("p"),
        "w",
    ).select(
        "_id",
        F.col("p").cast("long").alias("p"),
        F.md5(F.array_join(F.slice("w", F.col("p"), seed_k), " ")).alias("g"),
    )
    dup = grams.groupBy("g").agg(F.count(F.lit(1)).alias("_n")).filter(
        F.col("_n") >= 2
    )
    covered = grams.join(dup.select("g"), "g").select("_id", "p")
    iw = Window.partitionBy("_id").orderBy("p")
    runs = covered.withColumn("grp", F.col("p") - F.row_number().over(iw))
    return (
        runs.groupBy("_id", "grp")
        .agg(
            F.min("p").alias("start_tok"),
            (F.max("p") + seed_k - 1).alias("end_tok"),
        )
        .select(
            F.col("_id").alias(id_col),
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok") + 1).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
    )


def semantic_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_planes: int = 4,
) -> DataFrame:
    """Build the SemDeDup probe index for a vector corpus: one row
    (vid, cell, q, n2) per vector — deterministic hyperplane-sign
    cell, int8-quantized code array, and its exact squared norm.
    This is the PERSISTABLE side of embedding dedup: build it once
    over the corpus (write to parquet, partitioned by cell at scale),
    then `incremental_semantic_dedup` probes arbitrary new batches
    against it without ever recomputing the corpus side — the
    continuous-ingest shape at 100 TB, mirroring the lexical family's
    `lsh_band_table` + `incremental_near_dup` pair.

    Int64-safety guard (ADVICE r10): the divisionless threshold
    compares 1e6·qdot² against t²·n2a·n2b with qdot ≤ 127²·dim, so
    1e6·(127²·dim)² must stay < 2⁶³ — true only for dim ≤ 188.
    Beyond that the product silently wraps BIGINT under ANSI-off, so
    every row is checked inside the plan and a longer vector fails the
    query with a `raise_error` (mirrors the pagerank_integer overflow
    guard). Building the index runs no job: the cell planes are the
    256-weight literal sliced to each row's length (`n_dims=None`,
    the same `plane_weight` values as an exact-dim literal)."""
    from ..functions.vectors import hyperplane_bucket, quantize_scale, quantize_vec

    v = F.col(vec_col).cast("array<double>")
    overflow = F.raise_error(
        F.concat(
            F.lit("semantic_index: embedding dim "),
            F.size(v).cast("string"),
            F.lit(
                " > 188 overflows the int64 divisionless cosine comparison "
                "(1e6*qdot^2); reduce dim or rescale the quantization"
            ),
        )
    )
    cells = corpus.select(
        F.col(id_col).alias("vid"),
        F.when(F.size(v) > 188, overflow).otherwise(v).alias("_v"),
    ).withColumn("cell", hyperplane_bucket("_v", n_planes))
    return (
        cells.withColumn("_s", quantize_scale("_v"))
        .withColumn("q", quantize_vec("_v", "_s"))
        .withColumn(
            "n2",
            F.expr(
                "aggregate(q, CAST(0 AS BIGINT), "
                "(s, x) -> s + CAST(x AS BIGINT) * x)"
            ),
        )
        .select("vid", "cell", "q", "n2")
    )


def _int8_codes(pdf):
    """(vid, q, n2) columns of a `semantic_index` Arrow batch as int64
    numpy arrays — q stacked into a rows × dim matrix."""
    import numpy as np

    q = np.stack([np.asarray(x, dtype=np.int64) for x in pdf["q"]])
    return (
        pdf["vid"].to_numpy(dtype=np.int64),
        q,
        pdf["n2"].to_numpy(dtype=np.int64),
    )


def _int8_cosine_hits(qr, n2r, qc, n2c, t2, ids=None):
    """Index pairs (i, j) whose int8-quantized cosine(qr[i], qc[j])
    reaches the threshold, by the exact divisionless int64 test
    qdot > 0 and 1e6·qdot² ≥ t2·n2r·n2c (in range by the
    semantic_index dim ≤ 188 guard). Scored as one numpy GEMM per
    1024-row block of qr, so a hot cell never materializes |qr|×|qc|
    scores at once. `ids` marks a self-join (qr is qc): only pairs
    with ids[i] < ids[j] are kept. qr must be non-empty."""
    import numpy as np

    out_r, out_c = [], []
    for i0 in range(0, len(qr), 1024):
        i1 = min(i0 + 1024, len(qr))
        g = qr[i0:i1] @ qc.T
        ok = (g > 0) & (
            1_000_000 * g * g >= t2 * (n2r[i0:i1, None] * n2c[None, :])
        )
        if ids is not None:
            ok &= ids[None, :] > ids[i0:i1, None]  # doc_a < doc_b, no self
        ri, ci = np.nonzero(ok)
        out_r.append(ri + i0)
        out_c.append(ci)
    return np.concatenate(out_r), np.concatenate(out_c)


def incremental_semantic_dedup(
    index: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_planes: int = 4,
    threshold_milli: int = 900,
) -> DataFrame:
    """Probe a NEW ingest batch against a prebuilt `semantic_index`
    corpus index — the incremental twin of `semantic_dedup` (VERDICT
    r10 #5) and the embedding-space analogue of `incremental_near_dup`:
    at 100 TB the corpus index is computed once and persisted; each
    arriving batch quantizes ITS OWN vectors only, equi-joins the
    index on `cell`, and thresholds the int8-quantized cosine with the
    same divisionless int64 comparison as the batch operator. Work is
    |batch|·(corpus density per cell), never corpus×corpus.

    Returns one row per batch vector: (id_col, cell, dup_of = MIN
    matching corpus vid or null, n_matches, kept = no corpus match).
    Within-batch duplicates are intentionally NOT examined here — run
    `semantic_dedup` on the batch first; this operator answers "is it
    already in the corpus?"."""
    bcodes = semantic_index(batch, id_col, vec_col, n_planes).localCheckpoint(
        eager=False
    )
    t2 = threshold_milli * threshold_milli

    # r12: per-cell batch×corpus int64 GEMM in a cogrouped Arrow batch
    # replaces the interpreted per-candidate zip_with/aggregate chain —
    # identical exact arithmetic (_int8_cosine_hits, shared with
    # semantic_dedup), emitting the surviving (bid, cid) pairs;
    # the min/count consolidation stays a JVM hash aggregate.
    def cross(ldf, rdf):
        import pandas as pd

        if len(ldf) == 0 or len(rdf) == 0:
            return pd.DataFrame({"bid": [], "cid": []}, dtype="int64")
        cids, qa, n2a = _int8_codes(ldf)
        bids, qb, n2b = _int8_codes(rdf)
        bi, ci = _int8_cosine_hits(qb, n2b, qa, n2a, t2)
        return pd.DataFrame({"bid": bids[bi], "cid": cids[ci]})

    hits = (
        index.select("vid", "cell", "q", "n2")
        .groupBy("cell")
        .cogroup(bcodes.select("vid", "cell", "q", "n2").groupBy("cell"))
        .applyInPandas(cross, "bid bigint, cid bigint")
    )
    matches = hits.groupBy("bid").agg(
        F.min("cid").alias("dup_of"),
        F.count(F.lit(1)).alias("n_matches"),
    )
    return (
        bcodes.select("vid", "cell")
        .join(matches, bcodes["vid"] == matches["bid"], "left")
        .select(
            F.col("vid").alias(id_col),
            "cell",
            "dup_of",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            F.col("dup_of").isNull().alias("kept"),
        )
    )


def _min_label_closure(n, a, b):
    """Connected-component labels of an n-node graph whose edges are
    the index pairs (a[k], b[k]): every node ends labelled with the
    smallest node index of its component. Min-label propagation across
    the edges plus one pointer jump (lab = lab[lab]) per round, until a
    round changes no label. Labels only ever fall and always name a
    node of the same component, so the fixpoint is the component
    minimum."""
    import numpy as np

    lab = np.arange(n)
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, a, lab[b])
        np.minimum.at(nxt, b, lab[a])
        nxt = nxt[nxt]
        if np.array_equal(nxt, lab):
            return lab
        lab = nxt


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
    n_planes: int = 4,
    threshold_milli: int = 900,
) -> DataFrame:
    """SemDeDup-style embedding-space near-duplicate removal (Abbas et
    al. 2023): bucket the corpus into deterministic hyperplane-sign
    cells, threshold INT8-QUANTIZED cosine within each cell, and
    consolidate the resulting near-dup graph with min-label connected
    components — keep exactly one representative (the min id) per
    semantic cluster. The missing member of the dedup family: exact
    (hash), MinHash/SimHash (lexical), and now EMBEDDING-space
    near-dups, the one that catches paraphrases sharing no n-grams.

    Exactness: the cosine threshold is evaluated WITHOUT any float
    division — qcos ≥ t/1000 iff qdot > 0 and
    1e6·qdot² ≥ t²·n2a·n2b on exact BIGINTs (per-vector quantization
    scale cancels out of cosine). All magnitudes are bounded by the
    DIMENSION, not the corpus: qdot ≤ 127²·dim, int64-safe for
    dim ≤ 188 at any corpus size (the semantic_index guard).

    Scale shape: cells shard the pairwise work, so candidates are
    Σ cell_size² instead of N². Edges only ever join two vectors of
    one cell (SemDeDup compares within an embedding cluster only), so
    no component leaves its cell and each cell is closed where it is
    scored: one grouped Arrow batch per cell sorts the cell by vid,
    scores it with one int64 numpy GEMM per 1024-row block
    (_int8_cosine_hits; the JVM zip_with/aggregate form evaluated an
    interpreted lambda chain per candidate pair, measured ~3× slower)
    and closes its hit pairs with _min_label_closure. Building the
    plan runs no Spark job. At 100 TB the cell function graduates from
    2^n_planes sign planes to the trained k-means|| IVF index
    (operators/similarity.ivf_topk) with cells sized to a cap, which
    keeps per-cell work bounded; the per-cell shape is unchanged."""
    t2 = threshold_milli * threshold_milli

    def close(pdf):
        import pandas as pd

        pdf = pdf.sort_values("vid")
        ids, q, n2 = _int8_codes(pdf)
        a, b = _int8_cosine_hits(q, n2, q, n2, t2, ids=ids)
        lab = _min_label_closure(len(ids), a, b)
        return pd.DataFrame(
            {"vid": ids, "cell": pdf["cell"].to_numpy(), "cluster": ids[lab]}
        )

    return (
        semantic_index(corpus, id_col, vec_col, n_planes)
        .groupBy("cell")
        .applyInPandas(close, "vid bigint, cell bigint, cluster bigint")
        .select(
            F.col("vid").alias(id_col),
            "cell",
            "cluster",
            (F.col("cluster") == F.col("vid")).alias("kept"),
        )
    )
