"""Similarity search over embedding columns (`array<float>`).

Five top-k operators, one exact baseline and four scale paths:
- `cosine_topk_bruteforce` — exact cosine top-k, a broadcast
  nested-loop over the (small) query set: the corpus is scanned ONCE,
  never shuffled, so it scales linearly with corpus size;
- `quantized_topk` — the brute-force scan over int8 scalar-quantized
  codes (4× smaller than float32), scored by exact integer dot
  products;
- `ivf_topk` — IVF ANN over KMeans cells: each query scans only its
  `n_probe` nearest cells; each corpus vector is indexed under its
  `spill` nearest;
- `ivf_fixed_topk` — IVF ANN over deterministic hyperplane-sign cells
  probed in query-directed order (no training, SQL-expressible);
- `ann_lsh_topk` — random-hyperplane LSH bucketing with multi-probe:
  candidate generation is an equi-join on the bucket (one shuffle, no
  O(n²)).

All vector math is JVM-side (`zip_with` dot product + `aggregate`
sums); no Python in the hot path. The hyperplanes are pseudo-random but
fully deterministic: plane p, dimension d gets weight
(blake2b("p,d", 4-byte digest) mod 2001 - 1000) / 1000
(`functions.vectors.plane_weight`), embedded in the plan as literal
arrays — reproducible across runs with zero driver-side state to
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine as cosine_expr
from ..functions.vectors import hyperplane_bucket  # noqa: F401 (re-export)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    The query set is broadcast; the corpus never shuffles for the join.
    Ranking shuffles only (corpus × |queries|) rows that carry
    (ids, cosine) — the embedding columns are pruned before the
    exchange. Deterministic tiebreak on neighbor id.
    """
    from pyspark.sql.window import Window

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("qv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr("qv", "v").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Top-k cosine neighbors over int8 scalar-quantized embeddings —
    the storage/shuffle scale path for 100 TB embedding stores: codes
    are 4× smaller than float32 (8× smaller than the double math they
    replace), and the per-vector scale factor cancels out of cosine,
    so scoring is pure integer dot products (exact, bit-reproducible
    on any engine — no float-summation-order concerns at all).

    Same distribution shape as the exact baseline: quantize each side
    once (chained selects — a Catalyst common-subexpr barrier so the
    scale isn't recomputed per code), precompute integer norms BEFORE
    the join so the broadcast join output carries only (ids, dot,
    norms), never the code arrays.
    """
    from pyspark.sql.window import Window

    from ..functions.vectors import int_dot, int_norm, quantize_scale, quantize_vec

    def _codes(df: DataFrame, idc: str, vc: str, out_id: str) -> DataFrame:
        return (
            df.select(F.col(idc).alias(out_id), F.col(vc).alias("_v"))
            .withColumn("_s", quantize_scale("_v"))
            .withColumn("q", quantize_vec("_v", "_s"))
            .withColumn("qn", int_norm("q"))
            .drop("_v", "_s")
        )

    c = _codes(corpus, id_col, vec_col, "neighbor_id")
    q = (
        _codes(queries, query_id_col, query_vec_col, "query_id")
        .withColumnRenamed("q", "qq")
        .withColumnRenamed("qn", "qqn")
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("qdot", int_dot("qq", "q"))
        .select(
            "query_id",
            "neighbor_id",
            "qdot",
            (F.col("qdot").cast("double") / (F.col("qqn") * F.col("qn"))).alias("qcos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "qdot", "qcos")
    )


#: memoized IVF indexes: cache_key -> (model, assigned-cells DataFrame,
#: corpus fingerprint). An IVF index is built once and queried many
#: times — callers pass a stable cache_key (e.g. the corpus path) to
#: get that semantics. The fingerprint guards the REBUILD path: a
#: cache hit re-derives the corpus fingerprint and rebuilds on
#: mismatch, so a corpus that changed under the same key can never be
#: served a stale index (the classic index-invalidation bug).
_IVF_INDEX_CACHE: dict = {}


def _corpus_fingerprint(corpus: DataFrame, id_col: str) -> tuple:
    """Order-insensitive corpus identity: (row count, sum of
    xxhash64(id)). One column-pruned aggregation scan — O(corpus) but
    id-column-only, a vanishing fraction of the ANN query itself. At
    100 TB the same contract would be met for O(metadata) from parquet
    file listing + sizes (the snapshot id of a table format); the
    hash-sum form is the storage-agnostic equivalent."""
    row = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0): BIGINT hash sums overflow under ANSI mode
        F.sum(F.xxhash64(F.col(id_col)).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row.n, row.h)


def _nearest_cells_expr(vec_col: str, n_clusters: int, m: int) -> "F.Column":
    """Indices of the `m` centroids nearest to `vec_col`, as an
    array<int> — computed over a `_cents` column (array<array<double>>
    literal of the centroids) entirely in one row-local expression:
    distances via zip_with/aggregate, selection via
    array_sort(struct(dist, idx)). No window, no crossJoin, no shuffle
    — per-row work is O(n_clusters · dim), the right shape for
    assigning 10^11 corpus vectors where a partitionBy(id) window would
    shuffle the whole corpus just to rank 16 numbers."""
    d2 = (
        f"transform(_cents, cv -> aggregate(zip_with({vec_col}, cv, "
        f"(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (s, v) -> s + v))"
    )
    return F.expr(
        f"transform(slice(array_sort(zip_with({d2}, "
        f"sequence(0, {n_clusters - 1}), (d, i) -> struct(d, i))), 1, {m}), "
        f"s -> s.i)"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 3,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    cache_key: str | None = None,
    spill: int = 2,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into KMeans cells, then for
    each query scan only the `n_probe` nearest cells (exact cosine +
    top-k inside).

    `spill` is multi-assignment (Lloyd's "spilled" IVF): each corpus
    vector is indexed under its `spill` nearest cells. Cell boundaries
    are exactly where IVF loses neighbors — a query near a boundary
    probes one side while a true neighbor was assigned to the other;
    spill=2 puts boundary vectors in BOTH cells. Measured on the
    synthetic embeddings at 16 cells / 5 probes: recall 0.63→0.82
    from spill alone, 0.89–0.94 with the k-means|| training below —
    for 2× index storage and ~2× candidates per probe (still a
    ~2·n_probe/n_clusters fraction of the corpus, never O(n²)).

    Scale shape: cell assignment (corpus AND query probes) is a pure
    row-local expression over a broadcast centroid literal
    (_nearest_cells_expr — no window, no shuffle: the previous
    model.transform pass is replaced by the same arithmetic inlined);
    candidate generation is an equi-join on the cell id; only the
    final per-query top-k ranks anything. Training is k-means|| on a
    bounded 8k sample, 20 iterations — one-time per corpus (memoized
    via `cache_key`, the build-once/query-many contract), so centroid
    quality is paid once and recall keeps it."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.window import Window

    full_key = cache_key and (cache_key, n_clusters, seed, spill)
    cached = full_key and _IVF_INDEX_CACHE.get(full_key)
    if cached:
        # rebuild guard: same key, changed corpus -> stale index.
        fp = _corpus_fingerprint(corpus, id_col)
        if fp == cached[2]:
            model, c_cells = cached[0], cached[1]
        else:
            cached[1].unpersist()
            del _IVF_INDEX_CACHE[full_key]
            cached = None
    if not cached:
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ).withColumn("features", array_to_vector("v"))
        km = KMeans(
            k=n_clusters,
            seed=seed,
            maxIter=20,
            initMode="k-means||",
            featuresCol="features",
            predictionCol="cell",
        )
        model = km.fit(c.select("features").limit(8192))
        cents_lit = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in cv])
                for cv in model.clusterCenters()
            ]
        )
        c_cells = (
            c.withColumn("_cents", cents_lit)
            .withColumn("cells", _nearest_cells_expr("v", n_clusters, spill))
            .select("neighbor_id", "v", F.explode("cells").alias("cell"))
            .persist()
        )
        if full_key:
            _IVF_INDEX_CACHE[full_key] = (
                model,
                c_cells,
                _corpus_fingerprint(corpus, id_col),
            )

    cents_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in cv]) for cv in model.clusterCenters()]
    )
    probes = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).cast("array<double>").alias("qv"),
        )
        .withColumn("_cents", cents_lit)
        .withColumn("cells", _nearest_cells_expr("qv", n_clusters, n_probe))
        .select("query_id", "qv", F.explode("cells").alias("cell"))
    )
    scored = (
        c_cells.join(
            F.broadcast(probes),
            (c_cells["cell"] == probes["cell"])
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", cosine_expr("qv", "v").alias("cosine"))
        # spill>1 can surface the same (query, neighbor) via two cells
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_fixed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-style ANN with DETERMINISTIC cells: hyperplane-sign cells
    (2^n_planes of them) instead of KMeans centroids, probed in
    query-directed order — the query's own cell first, then the cells
    reached by flipping the planes the query sits CLOSEST to (smallest
    |v·r_p|: those are the planes most likely to have separated it from
    true neighbors — multi-probe LSH, Lv et al., VLDB'07).

    Same scale shape as `ivf_topk` (cell equi-join, ~n_probe/2^n_planes
    of the corpus scanned per query, exact cosine + top-k inside), but
    with zero training and a closed-form cell function — so the whole
    operator, probe selection included, is SQL-expressible and oracled
    end-to-end (plans/queries.py:ann_ivf_fixed_topk). KMeans `ivf_topk`
    remains the adaptive-cells production path."""
    from pyspark.sql.window import Window

    from ..functions.vectors import infer_dim, plane_dots

    dim = infer_dim(corpus, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("cell", hyperplane_bucket("v", n_planes, n_dims=dim))
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).cast("array<double>").alias("qv"),
        )
        .withColumn("m", plane_dots("qv", n_planes, n_dims=dim))
        .withColumn(
            "qcell",
            F.expr(
                f"aggregate(sequence(0, {n_planes - 1}), CAST(0 AS BIGINT), "
                f"(acc, p) -> acc + CASE WHEN m[p] > 0 "
                f"THEN shiftleft(CAST(1 AS BIGINT), p) ELSE CAST(0 AS BIGINT) END)"
            ),
        )
    )
    own = q.select("query_id", "qv", F.col("qcell").alias("probe"))
    wq = Window.partitionBy("query_id").orderBy(
        F.abs(F.col("margin")).asc(), F.col("p").asc()
    )
    flips = (
        q.select("query_id", "qv", "qcell", F.posexplode("m").alias("p", "margin"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe - 1)
        .select(
            "query_id",
            "qv",
            F.expr("qcell ^ shiftleft(CAST(1 AS BIGINT), p)").alias("probe"),
        )
    )
    probes = own.unionByName(flips)
    scored = (
        c.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("probe"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", cosine_expr("qv", "v").alias("cosine"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    probe_bits: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's hyperplane
    bucket (or a bucket within `probe_bits` bit flips — multi-probe)
    are scored. Multi-probe is expressed as an EXPLODE of the query's
    probe buckets followed by an equi-join, so candidate generation
    stays a hash join — never a theta/nested-loop scan of the corpus."""
    from pyspark.sql.window import Window

    from ..functions.vectors import infer_dim

    dim = infer_dim(corpus, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).withColumn("bucket", hyperplane_bucket("v", n_planes, n_dims=dim))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qbucket", hyperplane_bucket("qv", n_planes, n_dims=dim))
    if probe_bits >= 1:
        probes = "array(qbucket" + "".join(
            f", CAST(qbucket AS BIGINT) ^ shiftleft(CAST(1 AS BIGINT), {p})"
            for p in range(n_planes)
        ) + ")"
        q = q.withColumn("probe", F.explode(F.expr(probes)))
    else:
        q = q.withColumn("probe", F.col("qbucket"))
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("probe"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", cosine_expr("qv", "v").alias("cosine"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
