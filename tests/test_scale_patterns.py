"""Scale-pattern tests: bucketed co-located joins, stream-static
dimension joins, and the vectorized pandas_udf path.
"""

import pytest

from pyspark.sql import functions as F

from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.bucketed import (
    bucketed_join,
    write_bucketed,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
    load_table,
)

from conftest import SF_SMOKE


def test_bucketed_join_elides_exchange(spark, tmp_path):
    """Both sides bucketed by the join key → SortMergeJoin with NO
    Exchange: the shuffle happened once, at write time."""
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    write_bucketed(orders, "orders_b", "o_orderkey", 8)
    write_bucketed(li, "lineitem_b", "l_orderkey", 8)
    # broadcast would bypass the bucketing we're demonstrating
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "orders_b", "lineitem_b", "o_orderkey = l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_stream_static_dimension_join(spark):
    """Streaming events enriched with a STATIC dimension (no state
    store needed on the static side) — the standard scale pattern for
    profile enrichment."""
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.memory import (
        stream_from_rows,
    )

    static_dim = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rows = [{"user_id": 3, "value": 1.5}, {"user_id": 7, "value": 2.5}]
    stream = stream_from_rows(
        spark, rows, _parse_datatype_string("user_id bigint, value double")
    )
    enriched = stream.join(
        static_dim, F.col("user_id") == F.col("c_custkey"), "left"
    ).select("user_id", "value", "c_mktsegment")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.user_id: r.c_mktsegment for r in spark.sql("SELECT * FROM enriched").collect()}
    expected = {
        r.c_custkey: r.c_mktsegment
        for r in static_dim.filter(F.col("c_custkey").isin([3, 7])).collect()
    }
    assert got == expected


def test_pandas_udf_matches_jvm_expression(spark):
    """Vectorized Arrow-batched pandas_udf (the sanctioned Python
    escape hatch) must agree with the JVM built-in path — here: L2
    normalization of embeddings."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def normalize(vecs: pd.Series) -> pd.Series:
        import numpy as np

        def f(v):
            a = np.asarray(v, dtype="float64")
            n = float(np.sqrt((a * a).sum()))
            return (a / n).tolist() if n else a.tolist()

        return vecs.map(f)

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    via_udf = emb.select("vec_id", normalize(F.col("embedding").cast("array<double>")).alias("nv"))
    via_jvm = emb.select(
        "vec_id",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x / "
            "sqrt(aggregate(CAST(embedding AS ARRAY<DOUBLE>), CAST(0.0 AS DOUBLE), (s, v) -> s + v * v)))"
        ).alias("nv"),
    )
    u = {r.vec_id: r.nv for r in via_udf.collect()}
    j = {r.vec_id: r.nv for r in via_jvm.collect()}
    assert set(u) == set(j)
    for k in u:
        assert all(abs(a - b) < 1e-12 for a, b in zip(u[k], j[k]))


def test_two_pass_ranking_matches_window_with_ties(spark):
    """operators.ranking vs the single-partition window functions on a
    tie-heavy frame: tie-aware pr/cd and ntile must agree exactly
    (ntile compared on a unique order; its tie behavior is undefined)."""
    from pyspark.sql.window import Window

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        global_ntile,
        global_percent_rank_cume_dist,
    )

    df = spark.createDataFrame(
        [(i, (i * 7) % 5) for i in range(101)], "id bigint, k bigint"
    ).repartition(7)

    got = {
        (r.id, r.k): (r.pr, r.cd)
        for r in global_percent_rank_cume_dist(df, ["k"], num_partitions=5).collect()
    }
    w = Window.orderBy("k")
    want = {
        (r.id, r.k): (r.pr, r.cd)
        for r in df.select(
            "id", "k", F.percent_rank().over(w).alias("pr"), F.cume_dist().over(w).alias("cd")
        ).collect()
    }
    assert got == want

    got_nt = {
        r.id: r.t
        for r in global_ntile(df, ["k", "id"], n=7, out_col="t", num_partitions=5).collect()
    }
    w2 = Window.orderBy("k", "id")
    want_nt = {r.id: r.t for r in df.select("id", F.ntile(7).over(w2).alias("t")).collect()}
    assert got_nt == want_nt


def test_two_pass_ranking_single_row_and_empty(spark):
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        global_percent_rank_cume_dist,
    )

    one = spark.createDataFrame([(1, 10)], "id bigint, k bigint")
    r = global_percent_rank_cume_dist(one, ["k"]).collect()
    assert len(r) == 1 and r[0].pr == 0.0 and r[0].cd == 1.0

    empty = spark.createDataFrame([], "id bigint, k bigint")
    assert global_percent_rank_cume_dist(empty, ["k"]).collect() == []


def test_global_running_sum_matches_window(spark):
    from pyspark.sql.window import Window

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        global_running_sum,
    )

    df = spark.createDataFrame(
        [(i, (i * 13) % 17 + 1) for i in range(200)], "id bigint, v bigint"
    ).repartition(6)
    got = {
        r.id: r.running_sum
        for r in global_running_sum(df, ["id"], "v", num_partitions=5).collect()
    }
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {r.id: r.cs for r in df.select("id", F.sum("v").over(w).alias("cs")).collect()}
    assert got == want


def test_zorder_write_narrows_per_file_envelopes(spark, tmp_path):
    """Z-order clustering must give every output file a min/max box
    over BOTH dimensions much narrower than the global range — that's
    the property footer-stats pruning feeds on. Compare against a
    single-column sort layout, where the second dimension's per-file
    spans stay ~global."""
    import glob

    import pyarrow.parquet as pq

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.layout import (
        zorder_write,
    )

    n = 20000
    df = spark.range(n).select(
        (F.col("id") % 141).alias("x"),
        ((F.col("id") * 7919) % 137).alias("y"),
        F.col("id").alias("payload"),
    )

    zpath = str(tmp_path / "z")
    zorder_write(df, zpath, ["x", "y"], n_files=16)

    spath = str(tmp_path / "s")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(spath)

    def mean_span(path, col):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            if los:
                spans.append(max(his) - min(los))
        return sum(spans) / len(spans)

    # single-column sort: y is unclustered, per-file span ~ global (136)
    assert mean_span(spath, "y") > 120
    # z-order: BOTH dims tightly boxed per file
    assert mean_span(zpath, "x") < 141 * 0.5
    assert mean_span(zpath, "y") < 137 * 0.5


def test_zorder_scan_prunes_row_groups(spark, tmp_path):
    """End-to-end data skipping: a 2-D box filter over the z-ordered
    layout must read fewer rows than the same filter over the
    1-D-sorted layout (parquet row-group stats pruning)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.layout import (
        zorder_write,
    )

    n = 20000
    df = spark.range(n).select(
        (F.col("id") % 141).alias("x"),
        ((F.col("id") * 7919) % 137).alias("y"),
    )
    zpath = str(tmp_path / "z2")
    zorder_write(df, zpath, ["x", "y"], n_files=16)
    got = (
        spark.read.parquet(zpath)
        .filter((F.col("x").between(10, 20)) & (F.col("y").between(10, 20)))
        .count()
    )
    want = df.filter(
        (F.col("x").between(10, 20)) & (F.col("y").between(10, 20))
    ).count()
    assert got == want  # clustering must never change results


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned parquet + a partition-column filter must show
    partition pruning in the scan (the directory-level data skipping
    every 100 TB landing zone relies on)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        load_table,
    )

    path = str(tmp_path / "by_type")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.write.partitionBy("event_type").parquet(path)

    q = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1][:200]
    got = q.count()
    want = ev.filter(F.col("event_type") == "purchase").count()
    assert got == want


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@pytest.mark.slow  # r13 verify-window: depth property; the window-parity
# and single-row/empty two-pass tests stay fast
@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=60),
    parts=st.integers(min_value=1, max_value=5),
)
def test_two_pass_ranking_property(spark, vals, parts):
    """Property: for ANY key distribution (ties, skew, negatives) and
    ANY partition count, the two-pass pr/cd equals the window form."""
    from pyspark.sql.window import Window

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        global_percent_rank_cume_dist,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id bigint, k bigint"
    )
    got = {
        r.id: (r.pr, r.cd)
        for r in global_percent_rank_cume_dist(df, ["k"], num_partitions=parts).collect()
    }
    w = Window.orderBy("k")
    want = {
        r.id: (r.pr, r.cd)
        for r in df.select(
            "id", F.percent_rank().over(w).alias("pr"), F.cume_dist().over(w).alias("cd")
        ).collect()
    }
    assert got == want


def test_zorder_write_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustered files must be skippable (parquet min/max
    stats) for narrow filters on EITHER clustered column, where a
    single-column sort prunes only its own column. Measured here by
    reconstructing each file's bounding box and counting files whose
    box misses a ±2% band around each column's median."""
    from pyspark.sql import functions as F

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.layout import (
        zorder_write,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        load_table,
    )

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_write(orders, zpath, ["o_custkey", "o_totalprice"], n_files=16)
    (
        orders.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    def boxes(path):
        df = spark.read.parquet(path).withColumn("f", F.input_file_name())
        return [
            (r.mn1, r.mx1, r.mn2, r.mx2)
            for r in df.groupBy("f")
            .agg(
                F.min("o_custkey").alias("mn1"),
                F.max("o_custkey").alias("mx1"),
                F.min("o_totalprice").alias("mn2"),
                F.max("o_totalprice").alias("mx2"),
            )
            .collect()
        ]

    med = orders.agg(
        F.expr("percentile(o_custkey, 0.5)").alias("m1"),
        F.expr("percentile(o_totalprice, 0.5)").alias("m2"),
    ).collect()[0]

    def skipped(bx, lo1=None, hi1=None, lo2=None, hi2=None):
        n = 0
        for mn1, mx1, mn2, mx2 in bx:
            if lo1 is not None and (mx1 < lo1 or mn1 > hi1):
                n += 1
            elif lo2 is not None and (mx2 < lo2 or mn2 > hi2):
                n += 1
        return n

    zb, sb = boxes(zpath), boxes(spath)
    assert len(zb) == len(sb) == 16
    # z-order: meaningful skipping on BOTH dimensions (measured 9/16 each)
    assert skipped(zb, lo1=med.m1 * 0.98, hi1=med.m1 * 1.02) >= 6
    assert skipped(zb, lo2=med.m2 * 0.98, hi2=med.m2 * 1.02) >= 6
    # single-column sort: perfect on its own column, useless on the other
    assert skipped(sb, lo1=med.m1 * 0.98, hi1=med.m1 * 1.02) >= 12
    assert skipped(sb, lo2=med.m2 * 0.98, hi2=med.m2 * 1.02) == 0


def test_mixture_sample_rates_and_determinism(spark):
    """Realized per-group fractions must approximate the spec on a
    large corpus, rows must be identical under repartitioning (pure
    function of id), and groups absent from the spec are dropped."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sampling import (
        mixture_sample,
    )

    df = spark.range(40000).select(
        F.col("id").alias("doc_id"),
        F.expr("CASE WHEN id % 4 = 0 THEN 'en' WHEN id % 4 = 1 THEN 'zh' "
               "WHEN id % 4 = 2 THEN 'de' ELSE 'xx' END").alias("lang"),
    )
    rates = {"en": 0.5, "zh": 0.1, "de": 1.0}
    got = mixture_sample(df, rates).groupBy("lang").count().collect()
    frac = {r.lang: r["count"] / 10000 for r in got}
    assert "xx" not in frac  # whitelist semantics
    assert abs(frac["en"] - 0.5) < 0.03
    assert abs(frac["zh"] - 0.1) < 0.02
    assert frac["de"] == 1.0  # rate >= 1.0 keeps everything

    a = {r.doc_id for r in mixture_sample(df, rates).select("doc_id").collect()}
    rep = df.repartition(13, "lang")
    b = {r.doc_id for r in mixture_sample(rep, rates).select("doc_id").collect()}
    assert a == b


def test_mixture_resample_upsamples_deterministically(spark):
    """Rates above 1 must duplicate rows: whole part copies every row,
    fractional part adds one more copy to a deterministic subset;
    epochs are dense per row and the expansion is layout-independent."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sampling import (
        mixture_resample,
    )

    df = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        F.expr("CASE WHEN id % 2 = 0 THEN 'zh' ELSE 'en' END").alias("lang"),
    )
    rates = {"zh": 2.5, "en": 0.5}
    out = mixture_resample(df, rates)
    per_group = {r.lang: r["count"] for r in out.groupBy("lang").count().collect()}
    assert abs(per_group["zh"] / 10000 - 2.5) < 0.05  # 2 copies + ~half a third
    assert abs(per_group["en"] / 10000 - 0.5) < 0.03
    # epochs dense per doc: a zh doc has epochs {0,1} or {0,1,2}
    eps = (
        out.filter(F.col("lang") == "zh")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("epoch")).alias("e"))
        .collect()
    )
    for r in eps:
        assert r.e in ([0, 1], [0, 1, 2])
    a = sorted((r.doc_id, r.epoch) for r in out.collect())
    rep = mixture_resample(df.repartition(7), rates)
    b = sorted((r.doc_id, r.epoch) for r in rep.collect())
    assert a == b


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction must collapse a many-small-files table to the byte
    target without changing its contents."""
    import glob

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.layout import (
        compact_parquet,
    )

    path = str(tmp_path / "landing")
    df = spark.range(50000).select(
        F.col("id"), (F.col("id") % 97).alias("k"), F.expr("uuid()").alias("payload")
    )
    df.repartition(40).write.parquet(path)
    before_files = len(glob.glob(f"{path}/*.parquet"))
    assert before_files >= 40
    before_rows = sorted(r.id for r in spark.read.parquet(path).select("id").collect())

    n_out = compact_parquet(spark, path, target_file_bytes=1 * 1024 * 1024)
    after_files = len(glob.glob(f"{path}/*.parquet"))
    assert after_files == n_out < before_files / 4
    after_rows = sorted(r.id for r in spark.read.parquet(path).select("id").collect())
    assert after_rows == before_rows


def test_redact_pii_and_counts(spark):
    """Redaction must replace every planted PII span with its typed tag
    and the audit counts must see the same spans."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.text import (
        pii_counts,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            (0, "mail a.b+c@ex-ample.co.uk and b@x.io today"),
            (1, "call 415-555-0133 or 212-555-9999"),
            (2, "ssn 123-45-6789 masquerading as 123-456-7890 phone"),
            (3, "no pii here"),
        ],
        ["id", "text"],
    )
    counts = pii_counts("text")
    out = {
        r.id: r
        for r in df.select(
            "id",
            redact_pii("text").alias("red"),
            counts["email"].alias("ne"),
            counts["ssn"].alias("ns"),
            counts["phone"].alias("np"),
        ).collect()
    }
    assert out[0].red == "mail <EMAIL> and <EMAIL> today"
    assert (out[0].ne, out[0].ns, out[0].np) == (2, 0, 0)
    assert out[1].red == "call <PHONE> or <PHONE>"
    assert out[2].red == "ssn <SSN> masquerading as <PHONE> phone"
    assert (out[2].ns, out[2].np) == (1, 1)
    assert out[3].red == "no pii here"
    assert (out[3].ne, out[3].ns, out[3].np) == (0, 0, 0)


def test_repetition_stats_edges(spark):
    """Repetition signals on degenerate and fully-repetitive docs:
    single token (bigram ratio defined 0), all-same tokens, all-unique
    tokens."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.text import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [
            (0, "solo"),
            (1, "a a a a"),
            (2, "w x y z"),
            (3, "a b a b a b"),
        ],
        ["id", "text"],
    )
    s = repetition_stats("text")
    rows = {
        r.id: r
        for r in df.select(
            "id",
            s["distinct_token_ratio"].alias("dr"),
            s["top_token_share"].alias("ts"),
            s["dup_bigram_ratio"].alias("db"),
        ).collect()
    }
    assert (rows[0].dr, rows[0].ts, rows[0].db) == (1.0, 1.0, 0.0)
    assert rows[1].dr == 0.25 and rows[1].ts == 1.0 and rows[1].db == 1.0 - 1 / 3
    assert rows[2].dr == 1.0 and rows[2].ts == 0.25 and rows[2].db == 0.0
    # 'a b a b a b': 6 toks, 2 distinct; bigrams: ab,ba,ab,ba,ab -> 2/5 distinct
    assert rows[3].dr == 2 / 6 and rows[3].ts == 0.5 and rows[3].db == 1.0 - 2 / 5


def test_cms_merge_equals_whole_and_never_undercounts(spark):
    """The two defining CMS properties: sketches over disjoint slices
    cell-sum-merge to the whole-data sketch, and point estimates never
    under-count (planted heavy hitter included)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
        heavy_hitters,
    )
    from pyspark.sql import functions as F

    # 200 distinct light keys + one planted heavy hitter (300 rows)
    rows = [(i % 200,) for i in range(1000)] + [(9999,)] * 300
    df = spark.createDataFrame(rows, ["k"])

    whole = {(r.i, r.bucket): r.cnt for r in cms_build(df, "k").collect()}
    a, b = df.filter(F.col("k") % 2 == 0), df.filter(F.col("k") % 2 == 1)
    merged = {
        (r.i, r.bucket): r.cnt
        for r in cms_merge(cms_build(a, "k"), cms_build(b, "k")).collect()
    }
    assert merged == whole

    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact_count"))
    est = {r.k: r.est_count for r in cms_estimate(exact, cms_build(df, "k"), "k").collect()}
    truth = {r.k: r.exact_count for r in exact.collect()}
    assert set(est) == set(truth)
    assert all(est[k] >= truth[k] for k in truth)  # never under-counts

    hh = heavy_hitters(df, "k", threshold=250)
    got = {r.k: (r.est_count, r.exact_count) for r in hh.collect()}
    assert 9999 in got and got[9999][1] == 300 and got[9999][0] >= 300


def test_hll_portable_estimate_accuracy(spark):
    """256-register HLL standard error is 1.04/sqrt(256) ≈ 6.5%; the
    estimate must land within 3σ (20%) of truth at both small (linear
    counting branch) and large (raw branch) cardinalities."""
    import pyspark.sql.functions as F

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        hll_estimate,
    )

    df = spark.range(60_000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        # group 0: 200 distinct keys; group 1: 5k; group 2: 20k
        F.when(F.col("id") % 3 == 0, F.col("id") % 200)
        .when(F.col("id") % 3 == 1, F.col("id") % 5000)
        .otherwise(F.col("id") % 20000)
        .alias("k"),
    )
    est = {r.g: r.est_distinct for r in hll_estimate(df, "g", "k").collect()}
    truth = {"0": 200, "1": 5000, "2": 20000}
    for g, t in truth.items():
        assert abs(est[g] - t) / t < 0.20, (g, est[g], t)


def test_hll_merge_equals_direct_global_estimate(spark):
    """The merged-sketch 'ALL' row (per-bucket max over per-group
    registers) must equal the estimate from a direct global scan with a
    constant group — the associativity property that lets per-shard
    sketches roll up without rescanning raw keys. Exact equality, not
    a tolerance: both paths produce identical registers by
    construction, so any divergence is a merge bug."""
    import pyspark.sql.functions as F

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        hll_estimate,
        hll_merge_estimate,
    )

    df = spark.range(30_000).select(
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") % 7_000).alias("k"),
    )
    merged = {
        r.g: (r.est_distinct, r.n_registers)
        for r in hll_merge_estimate(df, "g", "k").collect()
    }
    direct = {
        r.g: (r.est_distinct, r.n_registers)
        for r in hll_estimate(df.withColumn("g", F.lit("ALL")), "g", "k").collect()
    }
    assert merged["ALL"] == direct["ALL"], (merged["ALL"], direct["ALL"])
    assert set(merged) == {"0", "1", "2", "3", "ALL"}


def test_hll_merge_keeps_real_all_group(spark, duck):
    """A real group named like `all_label` keeps its own row: the merged
    registers are summarized on their own, not summed together with the
    per-group registers of a group called 'ALL'. Each per-group row
    equals hll_estimate on that group alone, the merged row equals
    hll_estimate over every key, and the DuckDB oracle returns the same
    rows."""
    import pyspark.sql.functions as F

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        hll_estimate,
        hll_merge_estimate,
        hll_merge_oracle_sql,
    )

    df = spark.range(5_000).select(
        F.when(F.col("id") % 2 == 0, "ALL").otherwise("b").alias("g"),
        F.col("id").alias("k"),
    )

    def rows(frame):
        return [(r.g, r.est_distinct, r.n_registers) for r in frame.collect()]

    want = rows(hll_estimate(df.filter(F.col("g") == "ALL"), "g", "k"))
    want += rows(hll_estimate(df.filter(F.col("g") == "b"), "g", "k"))
    want += rows(hll_estimate(df.withColumn("g", F.lit("ALL")), "g", "k"))
    got = rows(hll_merge_estimate(df, "g", "k"))
    assert sorted(got) == sorted(want), (got, want)

    duck.execute(
        "CREATE OR REPLACE TEMP TABLE hll_all_groups AS "
        "SELECT CASE WHEN i % 2 = 0 THEN 'ALL' ELSE 'b' END AS g, i AS k "
        "FROM range(5000) t(i)"
    )
    oracle = duck.execute(hll_merge_oracle_sql("hll_all_groups", "g", "k")).fetchall()
    assert sorted(oracle) == sorted(want), (oracle, want)


def test_hll_fragments_agree_across_dialects(spark, duck):
    """The shared HLL SQL text gives the same answers in both engines:
    for m = 16, 64 and 256 the (bucket_hex, bucket, rho) of 3,000 keys
    match between Spark, DuckDB and a pure-Python md5 replica, and the
    integer buckets cover [0, m); the estimator returns bit-identical
    doubles over a (s_int, n_regs) grid that reaches both the
    linear-counting and the raw branch; any other m is rejected."""
    import hashlib
    import math

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        hll_estimate_sql,
        hll_register_exprs,
    )

    n_keys = 3_000

    def py_register(key, m):
        h = hashlib.md5(str(key).encode()).hexdigest()
        if m == 16:
            bucket_hex, bucket, stream = h[0], int(h[0], 16), h[1:13]
        elif m == 64:
            q = int(h[1], 16) // 4
            bucket_hex, bucket, stream = h[0] + str(q), int(h[0], 16) * 4 + q, h[2:14]
        else:
            bucket_hex, bucket, stream = h[:2], int(h[:2], 16), h[2:14]
        bits = int(stream, 16)
        return bucket_hex, bucket, 48 - bits.bit_length() + 1

    for m in (16, 64, 256):
        sx = hll_register_exprs("CAST(id AS STRING)", m)
        spark_regs = sorted(
            tuple(r)
            for r in spark.range(n_keys)
            .selectExpr("id", sx["bucket_hex"], f"CAST({sx['bucket']} AS BIGINT)", sx["rho"])
            .collect()
        )
        dx = hll_register_exprs("CAST(i AS VARCHAR)", m)
        duck_regs = sorted(
            duck.execute(
                f"SELECT i, {dx['bucket_hex']}, CAST({dx['bucket']} AS BIGINT), "
                f"CAST({dx['rho']} AS BIGINT) FROM range({n_keys}) t(i)"
            ).fetchall()
        )
        py_regs = [(k, *py_register(k, m)) for k in range(n_keys)]
        assert spark_regs == duck_regs == py_regs, f"m={m}: registers diverged"
        assert {r[2] for r in py_regs} == set(range(m)), f"m={m}: buckets not covered"

        grid = [(0, 0)] + [
            (n * (1 << (49 - rho)), n)
            for n in (1, m // 4, m // 2, m - 1, m)
            for rho in (1, 2, 3, 6, 10, 49)
        ]
        est = hll_estimate_sql(m)
        spark_est = [
            r[0]
            for r in spark.createDataFrame(grid, "s_int bigint, n_regs bigint")
            .selectExpr(est)
            .collect()
        ]
        values = ", ".join(f"({s}::BIGINT, {n}::BIGINT)" for s, n in grid)
        duck_est = [
            r[0]
            for r in duck.execute(
                f"SELECT {est} FROM (VALUES {values}) t(s_int, n_regs)"
            ).fetchall()
        ]
        assert [x.hex() for x in spark_est] == [x.hex() for x in duck_est], f"m={m}"
        # both sides of the 2.5·m cutoff: linear counting m·ln(m/empty)
        # on an empty and a half-full sketch, raw far above the cutoff
        at = dict(zip(grid, spark_est))
        assert at[(0, 0)] == 0.0
        assert math.isclose(at[((m // 2) << 48, m // 2)], m * math.log(2))
        assert at[(m << 39, m)] > 300 * m

    with pytest.raises(ValueError, match="m=32"):
        hll_register_exprs("k", 32)


def test_hll_format_lives_in_sketches():
    """Only operators/sketches.py spells out the HLL format — the 2^49
    rho scale, the small-m alpha constants, the register term — and the
    hex alphabet behind `hex_prefix_int`, so the Spark operators and
    their DuckDB oracles cannot drift apart."""
    import glob
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark",
    )
    markers = ("562949953421312", "0.673", "0.709", "49 - r", "49 − r", "0123456789abcdef")
    found = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        if path.endswith(os.path.join("operators", "sketches.py")):
            continue
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        found += [(os.path.relpath(path, pkg), m) for m in markers if m in text]
    assert not found, found


def test_hex_prefix_int_agrees_across_dialects(spark, duck):
    """The one portable hex-to-BIGINT fragment reads the same value in
    Spark, in DuckDB, through Spark's conv() and in Python for 1, 2, 12
    and 15 md5 hex chars over 2,000 keys, and rejects other lengths."""
    import hashlib

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        hex_prefix_int,
    )

    n_keys = 2_000
    for n in (1, 2, 12, 15):
        spark_vals = sorted(
            tuple(r)
            for r in spark.range(n_keys)
            .selectExpr("md5(CAST(id AS STRING)) AS h", "id")
            .selectExpr(
                "id",
                hex_prefix_int("h", n),
                f"CAST(conv(substring(h, 1, {n}), 16, 10) AS BIGINT)",
            )
            .collect()
        )
        duck_vals = sorted(
            duck.execute(
                f"SELECT i, {hex_prefix_int('h', n)} FROM "
                f"(SELECT i, md5(CAST(i AS VARCHAR)) AS h FROM range({n_keys}) t(i))"
            ).fetchall()
        )
        py_vals = [
            (k, int(hashlib.md5(str(k).encode()).hexdigest()[:n], 16))
            for k in range(n_keys)
        ]
        assert [(k, v) for k, v, _ in spark_vals] == duck_vals == py_vals, f"n={n}"
        assert all(v == c for _, v, c in spark_vals), f"n={n}: conv() disagrees"
    for n in (0, 16):
        with pytest.raises(ValueError, match=f"n={n}"):
            hex_prefix_int("h", n)


def test_domain_cap_scale_twin_equals_window_form(spark):
    """The salted two-phase top-K must select EXACTLY the same
    (doc_id, source, rn) rows as the single-window form."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    plain = {tuple(r) for r in REGISTRY["domain_cap_sample"][0](spark, SF_SMOKE).collect()}
    scale = {
        tuple(r)
        for r in REGISTRY["domain_cap_sample_scale"][0](spark, SF_SMOKE).collect()
    }
    assert plain == scale and plain


def test_md5_threshold_sampling_monotone_in_rate(spark):
    """The threshold sampler's design claim: the keep-set at a lower
    rate is a SUBSET of the keep-set at any higher rate (raising a
    language's mixture weight only adds documents — incremental
    re-weighting, never a reshuffle). Verify subset inclusion across an
    increasing rate ladder on the real documents table, plus the exact
    keep-fraction tolerance at the top rate."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id")
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    keyed = docs.select("doc_id", h4.alias("h4"))
    ladder = [0.1, 0.25, 0.5, 0.9]
    kept = {
        r: {
            row.doc_id
            for row in keyed.filter(
                F.col("h4") < F.lit(format(int(r * 65536), "04x"))
            ).collect()
        }
        for r in ladder
    }
    n_docs = docs.count()
    for lo, hi in zip(ladder, ladder[1:]):
        assert kept[lo] <= kept[hi], (lo, hi)
    for r in ladder:
        assert abs(len(kept[r]) / n_docs - r) < 0.05, (r, len(kept[r]), n_docs)


def test_aqe_skew_join_splits_hot_partition(spark):
    """Certify (not just configure) AQE skew handling: a sort-merge
    join where one key holds 50% of the fact rows must come out of AQE
    re-planning as SortMergeJoin(skew=true) with a skewed
    AQEShuffleRead — the hot partition split across tasks at runtime.
    This is the no-code-change answer for MODERATE skew at 100 TB;
    operators/joins.py:salted_join remains the heavy-artillery form
    for pathological keys (AQE cannot split a single-key build side
    under broadcast, and salting also fixes the agg-side)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("dim-"), F.col("id").cast("string")).alias("attr"),
        )
        j = fact.join(dim, "k")
        assert len(j.collect()) == 200_000
        final = (
            j._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
        )
        assert "isFinalPlan=true" in final, final
        assert "SortMergeJoin(skew=true)" in final, final
        assert "skewed" in final, final  # AQEShuffleRead marks the split read
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_binned_range_join_equals_naive_on_boundaries(spark):
    """The binning lemma behind range_join_error_bursts: events exactly
    ON bin edges / interval ends must match the naive inequality join —
    pairs meet in exactly one bin, [start, end) half-open edges hold.
    Planted timestamps sit exactly at 30-min boundaries (never occurs
    in the µs-resolution testdata, so the oracle can't exercise it)."""
    import pyspark.sql.functions as F

    rows = []
    base = 1_700_000_000_000_000  # µs, arbitrary epoch anchor
    bin_us = 30 * 60 * 1_000_000
    # events at: bin edge, mid-bin, end-boundary of a window, 1µs before
    for i, off in enumerate(
        [0, 1, bin_us - 1, bin_us, bin_us + 1, 2 * bin_us, 2 * bin_us - 1]
    ):
        rows.append((100 + i, base + off))
    ev = spark.createDataFrame(rows, "event_id long, us long").select(
        "event_id", F.timestamp_micros(F.col("us")).alias("ts")
    )
    # incidents anchored at a bin edge and mid-bin
    inc = spark.createDataFrame(
        [(1, base), (2, base + bin_us // 2)], "incident_id long, sus long"
    ).select(
        "incident_id",
        F.timestamp_micros(F.col("sus")).alias("start_ts"),
        F.timestamp_micros(F.col("sus") + bin_us).alias("end_ts"),
    )
    naive = (
        ev.crossJoin(inc)
        .filter((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts")))
        .select("incident_id", "event_id")
    )
    binned_inc = inc.withColumn(
        "bin",
        F.explode(
            F.array(
                F.floor(F.unix_micros("start_ts") / bin_us),
                F.floor(F.unix_micros("start_ts") / bin_us) + 1,
            )
        ),
    )
    probe = ev.withColumn("bin", F.floor(F.unix_micros("ts") / bin_us))
    binned = probe.join(
        binned_inc,
        (probe["bin"] == binned_inc["bin"])
        & (F.col("ts") >= F.col("start_ts"))
        & (F.col("ts") < F.col("end_ts")),
    ).select("incident_id", "event_id")
    a = sorted(map(tuple, naive.collect()))
    b = sorted(map(tuple, binned.collect()))
    assert a == b and len(a) > 0
    # no pair may appear twice (each event lives in exactly one bin)
    assert len(b) == len(set(b))


def test_kmv_jaccard_estimate_accuracy_and_mergeability(spark):
    """KMV set-overlap: (1) the Jaccard estimate lands within 4σ
    (σ≈1/√k) of the true user-set Jaccard on planted overlapping
    groups; (2) mergeability — the pairwise estimate computed from the
    two groups' bottom-k SAMPLES equals the estimate computed from
    bottom-k over their full digest union (k smallest of a union = k
    smallest of concatenated samples)."""
    import pyspark.sql.functions as F

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        kmv_jaccard_pairs,
        kmv_samples,
    )

    # two groups over user ranges with a known 50% overlap:
    # A = [0, 4000), B = [2000, 6000) → |A∩B| = 2000, |A∪B| = 6000
    rows = [("A", u) for u in range(4000)] + [("B", u) for u in range(2000, 6000)]
    df = spark.createDataFrame(rows, "grp string, user_id long")
    k = 256
    est = kmv_jaccard_pairs(kmv_samples(df, "grp", "user_id", k=k), "grp", k=k).collect()
    assert len(est) == 1
    true_j = 2000 / 6000
    sigma = (true_j * (1 - true_j) / k) ** 0.5
    assert abs(est[0].jaccard_est - true_j) <= 4 * sigma + 1e-9, est
    assert est[0].k_used == k

    # mergeability: estimate from full-union bottom-k must be identical
    dh = df.select("grp", F.md5(F.col("user_id").cast("string")).alias("_h")).distinct()
    union_topk = (
        dh.groupBy("_h").agg(F.count(F.lit(1)).alias("_sides"))
        .orderBy("_h").limit(k)
    )
    inter = union_topk.filter(F.col("_sides") == 2).count()
    assert est[0].sample_inter == inter
    spark.catalog.clearCache()


def test_kmv_registry_estimates_track_exact_jaccard(spark):
    """The REGISTERED kmv_type_user_overlap query (planted
    partially-disjoint audiences) must (1) exercise non-degenerate
    estimates — at least one pair strictly inside (0, 1) and at least
    one disjoint pair — and (2) land every pair's estimate within
    3/√k of the exact Jaccard of the planted member sets."""
    import pyspark.sql.functions as F

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.simjoin import (
        _KMV_K,
        kmv_planted_members,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        load_table,
    )

    sf = "/root/testdata/sf0.01"  # sf0.001's 15 users leave all pairs disjoint
    est = {
        (r.ga, r.gb): r.jaccard_est
        for r in REGISTRY["kmv_type_user_overlap"][0](spark, sf).collect()
    }
    members = kmv_planted_members(load_table(spark, sf, "events"))
    sets: dict[str, set] = {}
    for r in members.collect():
        sets.setdefault(r.event_type, set()).add(r.member_id)
    tol = 3 / _KMV_K**0.5
    assert any(0 < v < 1 for v in est.values()), est
    assert any(v == 0 for v in est.values()), est
    for (ga, gb), v in est.items():
        a, b = sets[ga], sets[gb]
        true_j = len(a & b) / len(a | b)
        assert abs(v - true_j) <= tol, (ga, gb, v, true_j)


def test_bloom_no_false_negatives_and_fpr_bound(spark):
    """Bloom membership sketch: every inserted key MUST probe true
    (structural zero-false-negative guarantee), and the false-positive
    rate on 5000 novel keys stays near the design point
    ((1-e^(-kn/m))^k ≈ 0.1% at n=2000, m=2^20, k=4 — gate at 1%)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    members = spark.range(2000).select(
        F.concat(F.lit("key-"), F.col("id").cast("string")).alias("k")
    )
    bloom = bloom_build(members, "k")
    hits = bloom_probe(bloom, members, "k").collect()
    assert len(hits) == 2000 and all(r.maybe_present for r in hits)

    novel = spark.range(5000).select(
        F.concat(F.lit("novel-"), F.col("id").cast("string")).alias("k")
    )
    fp = sum(
        1 for r in bloom_probe(bloom, novel, "k").collect() if r.maybe_present
    )
    assert fp / 5000 <= 0.01, f"FPR {fp / 5000} above bound"

    # duplicate probe rows must stay distinct output rows (probe
    # regroups by row id, not payload — the r5 advice), and scratch
    # column names are guarded
    import pytest as _pytest

    dupes = spark.createDataFrame(
        [("key-1", "a"), ("key-1", "a"), ("novel-x", "b")], "k string, tag string"
    )
    got = bloom_probe(bloom, dupes, "k").collect()
    assert len(got) == 3
    assert sum(1 for r in got if r.k == "key-1" and r.maybe_present) == 2
    with _pytest.raises(ValueError, match="reserves column names"):
        bloom_probe(bloom, dupes.withColumnRenamed("tag", "bits"), "k")
    spark.catalog.clearCache()


def test_bloom_merge_equals_direct_build(spark):
    """Merging two filters (union + bit_or per word) must equal the
    filter built over the concatenated inputs — the associative
    property that lets 1000 executors build shards independently."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        bloom_build,
    )

    a = spark.range(0, 800).select(F.col("id").cast("string").alias("k"))
    b = spark.range(500, 1500).select(F.col("id").cast("string").alias("k"))
    merged = {
        (r.word_idx, r.bits)
        for r in bloom_build(a, "k")
        .unionByName(bloom_build(b, "k"))
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .collect()
    }
    direct = {
        (r.word_idx, r.bits)
        for r in bloom_build(a.unionByName(b), "k").collect()
    }
    assert merged == direct
    spark.catalog.clearCache()


def test_semdedup_cluster_cap_invariants(spark):
    """semdedup_cluster_cap structural invariants at sf0.001: every
    vector assigned to exactly one cluster; ≤ CAP kept per cluster;
    within each cluster no unkept vector is strictly closer to the
    centroid than a kept one (row_number boundary)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.simjoin import (
        _SEMDEDUP_CAP,
    )

    rows = REGISTRY["semdedup_cluster_cap"][0](spark, SF_SMOKE).collect()
    n_emb = load_table(spark, SF_SMOKE, "embeddings").count()
    assert len(rows) == n_emb
    assert len({r.vec_id for r in rows}) == n_emb
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        kept = [r.dist_q for r in members if r.kept]
        unkept = [r.dist_q for r in members if not r.kept]
        assert len(kept) <= _SEMDEDUP_CAP, cid
        if unkept:
            assert len(kept) == _SEMDEDUP_CAP, cid
            assert max(kept) <= min(unkept), cid


def test_snapshot_cdc_diff_planted_counts(spark):
    """snapshot_cdc_diff change classes must match the deterministic
    snapshot synthesis exactly: deletes = id%7==3, inserts = id%13==7
    (shifted +10M), updates = id%11==5 surviving deletion with a
    non-null value (+1.5 on NULL stays NULL = no change)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    out = REGISTRY["snapshot_cdc_diff"][0](spark, SF_SMOKE)
    got = {
        r.change_type: r.n
        for r in out.groupBy("change_type").agg(F.count("*").alias("n")).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    exp_del = ev.filter(F.col("event_id") % 7 == 3).count()
    exp_ins = ev.filter(F.col("event_id") % 13 == 7).count()
    exp_upd = ev.filter(
        (F.col("event_id") % 11 == 5)
        & (F.col("event_id") % 7 != 3)
        & F.col("value").isNotNull()
    ).count()
    assert got.get("delete", 0) == exp_del
    assert got.get("insert", 0) == exp_ins
    assert got.get("update", 0) == exp_upd
    # inserted keys live in the shifted id range, disjoint from base
    ins_min = out.filter(F.col("change_type") == "insert").agg(
        F.min("event_id")
    ).collect()[0][0]
    assert ins_min is None or ins_min >= 10_000_000


def test_cdc_apply_roundtrip_digest(spark):
    """Changefeed COMPLETENESS: applying cdc_diff's output to the old
    snapshot must reproduce the new snapshot BIT-EXACTLY — certified by
    the order-independent content digest (digest equality + row count),
    not row-by-row comparison. This is the digest/changefeed loop
    closing on itself: digest says WHETHER snapshots diverged, the
    changefeed fixes WHICH rows, the digest re-certifies the repair."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.warehouse import (
        _DIGEST_ROWS,
        cdc_apply,
        cdc_diff,
        cdc_synth_next,
        digest_term,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    new = cdc_synth_next(ev)
    applied = cdc_apply(ev, new, cdc_diff(ev, new))

    def digest(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(digest_term(_DIGEST_ROWS["events"])).alias("d"),
        ).collect()[0]
        return r.n, r.d

    n_new, d_new = digest(new)
    n_app, d_app = digest(applied)
    assert (n_app, d_app) == (n_new, d_new)
    # and the repair actually did something: old digest differs
    assert digest(ev) != (n_new, d_new)


def test_interval_overlap_join_matches_bruteforce(spark):
    """The BINNED interval overlap join must equal a Python quadratic
    replication exactly (pair multiplicity, boundary exclusivity,
    overlap micros) — independent of the DuckDB oracle."""
    import hashlib

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    W, COOL, WLEN = 3_600_000_000, 1_200_000_000, 6_000_000_000
    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", F.expr("unix_micros(ts)").alias("us"))
        .collect()
    )
    spans: dict = {}
    hours = set()
    for r in ev:
        h = r.us // W
        hours.add(h)
        k = (r.user_id, h)
        lo, hi = spans.get(k, (r.us, r.us))
        spans[k] = (min(lo, r.us), max(hi, r.us))
    wins = {
        h: (h * W + (h % 7) * 300_000_000, h * W + (h % 7) * 300_000_000 + WLEN)
        for h in hours
        if hashlib.md5(str(h).encode()).hexdigest()[0] in "0123"
    }
    expected = sorted(
        (u, lo, h, min(hi + COOL, we) - max(lo, ws))
        for (u, _sh), (lo, hi) in spans.items()
        for h, (ws, we) in wins.items()
        if lo < we and ws < hi + COOL
    )
    got = sorted(
        (r.user_id, r.span_start_us, r.win_id, r.overlap_us)
        for r in REGISTRY["interval_overlap_join"][0](spark, SF_SMOKE).collect()
    )
    assert got == expected and len(got) > 0
    assert all(o > 0 for *_, o in got)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ivl = st.tuples(st.integers(0, 500), st.integers(0, 120)).map(
    lambda t: (t[0], t[0] + t[1])
)  # length 0 allowed: empty intervals must match NOTHING


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow  # r13 verify-window: depth property; the bruteforce-parity
# interval test stays fast
@given(
    lefts=st.lists(_ivl, min_size=0, max_size=12),
    rights=st.lists(_ivl, min_size=0, max_size=12),
    w=st.sampled_from([7, 50, 64, 300]),
)
def test_interval_overlap_operator_property(spark, lefts, rights, w):
    """interval_overlap_join == quadratic overlap semantics for
    ARBITRARY intervals and bin widths: exact pair multiset (each
    overlapping pair exactly once regardless of how many bins it
    shares), strict boundaries, any fan-out."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.joins import (
        interval_overlap_join,
    )

    ldf = spark.createDataFrame(
        [(i, s, e) for i, (s, e) in enumerate(lefts)] or [(None, None, None)],
        "lid int, ss long, se long",
    ).filter(F.col("lid").isNotNull())
    rdf = spark.createDataFrame(
        [(i, s, e) for i, (s, e) in enumerate(rights)] or [(None, None, None)],
        "rid int, ws long, we long",
    ).filter(F.col("rid").isNotNull())
    got = sorted(
        (r.lid, r.rid)
        for r in interval_overlap_join(ldf, rdf, w).collect()
    )
    expected = sorted(
        (li, ri)
        for li, (ls, le) in enumerate(lefts)
        for ri, (rs, re_) in enumerate(rights)
        # max(starts) < min(ends): half-open overlap; empty intervals
        # ([s, s)) can never satisfy it
        if max(ls, rs) < min(le, re_)
    )
    assert got == expected


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """write_partitioned produces hive-layout directories, a
    partition-column filter shows up as PartitionFilters on the scan
    (directory pruning — zero I/O for other partitions, visible as
    fewer scanned files), and rows survive the round-trip."""
    import glob as _glob

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.layout import (
        write_partitioned,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, out, ["lang"])

    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    dirs = {
        p.rsplit("/", 1)[-1]
        for p in _glob.glob(f"{out}/lang=*")
    }
    assert dirs == {f"lang={l}" for l in langs}
    # small-files discipline: one file per partition directory
    for d in dirs:
        assert len(_glob.glob(f"{out}/{d}/*.parquet")) == 1

    back = spark.read.parquet(out)
    filtered = back.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1].split("]")[0], plan
    # pruning is real: the filtered scan reads exactly the en partition
    n_en = docs.filter(F.col("lang") == "en").count()
    assert filtered.count() == n_en
    # the pruned scan equals reading the en directory alone (inputFiles()
    # reports pre-pruning metadata, so assert via the directory instead)
    direct = spark.read.parquet(f"{out}/lang=en")
    assert direct.count() == n_en
    # full-table parity
    assert back.count() == docs.count()


def test_partitioned_write_salt_bounds_files_not_parallelism(spark, tmp_path):
    """The non-degenerate max_files_per_partition=k case: every
    directory gets AT MOST k files, MORE than one directory gets >1
    file (the salt actually splits writers), and the write plan's
    exchange carries the full task count, not k — i.e. the parameter
    bounds files per directory without funneling the job through k
    tasks."""
    import glob as _glob

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.layout import (
        write_partitioned,
    )

    docs = load_table(spark, SF_SMOKE, "documents").repartition(16)
    out = str(tmp_path / "docs_by_lang_k2")
    write_partitioned(docs, out, ["lang"], max_files_per_partition=2, n_tasks=16)

    dirs = _glob.glob(f"{out}/lang=*")
    assert dirs
    per_dir = {d: len(_glob.glob(f"{d}/*.parquet")) for d in dirs}
    assert all(n <= 2 for n in per_dir.values()), per_dir
    # salt engaged: with 16 input partitions feeding salt=pid%2, both
    # salt values exist, so populous directories split into 2 files
    assert sum(1 for n in per_dir.values() if n == 2) >= 1, per_dir
    # round-trip parity
    assert spark.read.parquet(out).count() == docs.count()


def test_weighted_median_halves_char_mass(spark):
    """The weighted median's defining property: docs with length ≤
    median carry ≥ half the source's total characters, and docs with
    length < median carry < half."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    med = {
        r.source: (r.median_n_chars, r.total_chars)
        for r in REGISTRY["weighted_median_doc_length"][0](
            spark, SF_SMOKE
        ).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    mass: dict = {}
    for d in docs:
        mass.setdefault(d.source, []).append(d.n_chars)
    assert set(med) == set(mass)
    for src, (m, total) in med.items():
        assert total == sum(mass[src])
        assert 2 * sum(c for c in mass[src] if c <= m) >= total
        assert 2 * sum(c for c in mass[src] if c < m) < total


def test_k_anonymity_report_invariants(spark):
    """Group sizes must sum to total_rows; suppressed rows are exactly
    the below-k mass; flags match the threshold."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.warehouse import (
        _KANON_K,
    )

    rows = REGISTRY["k_anonymity_report"][0](spark, SF_SMOKE).collect()
    n_cust = load_table(spark, SF_SMOKE, "customer").count()
    assert sum(r.group_n for r in rows) == n_cust
    assert all(r.total_rows == n_cust for r in rows)
    for r in rows:
        assert r.k_anonymous == (r.group_n >= _KANON_K)
        assert r.suppressed_rows == (r.group_n if r.group_n < _KANON_K else 0)


def test_snapshot_profile_drift_invariants(spark):
    """Drift report vs the known snapshot synthesis: event_id is
    null-free and unique in both snapshots, so its distinct_delta is
    exactly inserts − deletes; event_type's distinct count can only
    shrink or hold (deletion never invents values)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    drift = {
        r.col: r
        for r in REGISTRY["snapshot_profile_drift"][0](spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    n = ev.count()
    n_del = ev.filter(F.col("event_id") % 7 == 3).count()
    n_ins = ev.filter(F.col("event_id") % 13 == 7).count()
    eid = drift["event_id"]
    assert eid.old_nulls == 0 and eid.new_nulls == 0
    assert eid.old_distinct == n
    assert eid.new_distinct == n - n_del + n_ins
    assert eid.distinct_delta == n_ins - n_del
    et = drift["event_type"]
    assert et.distinct_delta <= 0
    assert set(drift) == {"event_id", "user_id", "event_type", "value"}


def test_exact_auc_planted_ties_and_edges(spark):
    """Hand-computed AUC with ties: pos scores {3,2,2}, neg {1,2,0} →
    9 pairs, wins 3+2+2=7, ties 2 → u2 = 2*7 + 2 = 16, auc = 16/18.
    Plus the degenerate one-class cases (auc NULL, u2 well-defined)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        exact_auc,
    )

    rows = [(3.0, 1), (2.0, 1), (2.0, 1), (1.0, 0), (2.0, 0), (0.0, 0)]
    df = spark.createDataFrame(rows, "s double, y int")
    [r] = exact_auc(df, "s", "y").collect()
    assert (r["n_pos"], r["n_neg"], r["u2"]) == (3, 3, 16)
    assert abs(r["auc"] - 16 / 18) < 1e-9  # auc is round(·, 9)

    [r1] = exact_auc(df.filter("y = 1"), "s", "y").collect()
    assert r1["n_neg"] == 0 and r1["auc"] is None
    [r0] = exact_auc(df.filter("y = 0"), "s", "y").collect()
    assert r0["n_pos"] == 0 and r0["auc"] is None


def test_exact_auc_matches_quadratic_reference(spark):
    """The distributed U-statistic equals the O(n²) pair count on the
    real corpus: score every sf0.001 document with the frozen logit,
    compare u2/n_pos/n_neg against numpy broadcast pair comparison."""
    import numpy as np

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.models import (
        frozen_logit_expr,
        quality_feature_frame,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        exact_auc,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    scored = quality_feature_frame(docs, label_threshold=0.065).select(
        frozen_logit_expr().alias("s"), F.col("weak_label").alias("y")
    )
    pdf = scored.toPandas()
    s, y = pdf["s"].to_numpy(), pdf["y"].to_numpy()
    pos, neg = s[y == 1.0], s[y == 0.0]
    wins = int((pos[:, None] > neg[None, :]).sum())
    ties = int((pos[:, None] == neg[None, :]).sum())

    [r] = exact_auc(scored, "s", "y").collect()
    assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
    assert r["u2"] == 2 * wins + ties
    assert len(pos) > 0 and len(neg) > 0  # real two-class problem
    expected = (2 * wins + ties) / (2 * len(pos) * len(neg))
    assert abs(r["auc"] - expected) < 1e-9
    assert r["auc"] > 0.5  # the classifier must beat coin-flip ranking


def test_grouped_split_fractions_and_group_atomicity(spark):
    """grouped_split: (1) every group lands wholly on one side — the
    leakage guarantee; (2) realized fractions approximate 90/5/5 over
    many groups; (3) assignment is a pure function of the group key
    (repartition-proof)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sampling import (
        grouped_split,
    )

    # 20k rows in 10k groups of 2 — atomicity is non-trivial per group
    df = spark.range(20000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 10000).alias("grp")
    )
    fr = [("train", 0.9), ("valid", 0.05), ("test", 0.05)]
    out = grouped_split(df, fr, "grp")
    per_grp = out.groupBy("grp").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert per_grp.filter(F.col("n_splits") > 1).count() == 0
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["train"] / 20000 - 0.9) < 0.02
    assert abs(counts["valid"] / 20000 - 0.05) < 0.01
    assert abs(counts["test"] / 20000 - 0.05) < 0.01
    a = sorted((r.doc_id, r.split) for r in out.collect())
    b = sorted(
        (r.doc_id, r.split)
        for r in grouped_split(df.repartition(17), fr, "grp").collect()
    )
    assert a == b


def test_leakage_safe_split_near_dups_colocated(spark, tmp_path):
    """End-to-end leakage guarantee on planted near-duplicates: docs
    sharing a near-dup cluster get the SAME split label even though
    their own doc_ids hash to different sides."""
    import shutil

    from conftest import SF_SMOKE
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    fn, _ = REGISTRY["leakage_safe_split"]
    out = fn(spark, SF_SMOKE).cache()
    try:
        # groups with >1 doc exist at sf0.001 (synthetic dup planting)
        # and every multi-doc group is single-split
        g = out.groupBy("grp_key").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("split").alias("n_splits"),
        )
        assert g.filter(F.col("n") > 1).count() > 0
        assert g.filter(F.col("n_splits") > 1).count() == 0
        # and the doc universe is fully covered, exactly once
        n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
        assert out.count() == n_docs
        assert out.select("doc_id").distinct().count() == n_docs
    finally:
        out.unpersist()


def test_data_contract_checks_nonvacuous(spark):
    """The contract report must exercise BOTH outcomes: the planted
    range check (value <= 300) reports violations, every structural
    check (uniqueness, not-null, FK edges) passes with 0 — so a
    regression that zeroes all counters or breaks an FK join is
    distinguishable from 'all green'."""
    from conftest import SF_SMOKE
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    fn, _ = REGISTRY["data_contract_checks"]
    rows = {r.check_name: r for r in fn(spark, SF_SMOKE).collect()}
    assert len(rows) == 15
    assert rows["range_events_value_le_300"].n_violations > 0
    assert rows["range_events_value_le_300"].passed == 0
    for name, r in rows.items():
        assert r.n_rows > 0, name
        if name != "range_events_value_le_300":
            assert r.n_violations == 0 and r.passed == 1, name


def test_ab_test_cuped_sane(spark):
    """CUPED readout sanity: both variants present, user counts sum to
    the distinct-user total, theta is finite and IDENTICAL across rows
    (pooled), and the adjusted mean differs from the raw mean iff the
    variant's covariate mean departs from the pooled mean."""
    import math

    from conftest import SF_SMOKE
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    fn, _ = REGISTRY["ab_test_cuped"]
    rows = fn(spark, SF_SMOKE).collect()
    assert {r.variant for r in rows} == {"A", "B"}
    n_users = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r.n_users for r in rows) == n_users
    thetas = {r.theta for r in rows}
    assert len(thetas) == 1 and math.isfinite(rows[0].theta)
    assert rows[0].theta != 0.0


def test_token_tv_divergence_extremes(spark):
    """Exact TV distance invariants on planted distributions: identical
    groups -> 0, disjoint vocabularies -> 1, and a half-overlapping
    pair lands strictly between; symmetric closed form means order of
    group names can't matter (canonical a < b pairing)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.text import (
        token_tv_divergence,
    )

    docs = spark.createDataFrame(
        [
            ("g1", "a b c a"),
            ("g2", "a b c a"),       # identical to g1
            ("g3", "x y z x"),       # disjoint from g1/g2
            ("g4", "a b x y"),       # half overlap with g1
        ],
        "source string, text string",
    )
    tv = {
        (r.group_a, r.group_b): r.tv_distance
        for r in token_tv_divergence(docs).collect()
    }
    # disjoint pairs never share a word -> inner join emits NO row;
    # only overlapping pairs appear (the query-level contract: absent
    # pair on a shared-vocab corpus can only mean disjoint = 1.0)
    assert tv[("g1", "g2")] == 0.0
    assert ("g1", "g3") not in tv and ("g2", "g3") not in tv
    assert 0.0 < tv[("g1", "g4")] < 1.0
    assert tv[("g1", "g4")] == tv[("g2", "g4")]
    # hand value: p_g1 = {a:.5, b:.25, c:.25}; p_g4 = {a:.25, b:.25,
    # x:.25, y:.25}; TV = .5*(|.5-.25| + 0 + .25 + .5) = 0.5
    assert tv[("g1", "g4")] == 0.5


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=-20, max_value=20),
            st.integers(min_value=-20, max_value=20),
        ),
        min_size=1,
        max_size=50,
    ),
    parts=st.integers(min_value=1, max_value=5),
)
def test_global_max_over_greater_property(spark, pts, parts):
    """Property: for ANY (key, value) multiset (ties, duplicates,
    negatives) and ANY partition count, the two-pass strictly-greater
    suffix max equals the brute-force definition (NULL when no greater
    key exists)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        global_max_over_greater,
    )

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(pts)],
        "id bigint, k bigint, v bigint",
    )
    try:
        got = {
            r.id: r.m
            for r in global_max_over_greater(
                df, "k", "v", "m", num_partitions=parts
            ).collect()
        }
    finally:
        spark.catalog.clearCache()
    for i, (k, v) in enumerate(pts):
        greater = [v2 for (k2, v2) in pts if k2 > k]
        want = max(greater) if greater else None
        assert got[i] == want, (i, k, v, got[i], want)


def test_global_max_over_greater_rejects_non_integral_key(spark):
    """The strictly-greater frame is `key >= k + 1`, which equals
    `key > k` only for integral keys: with keys (1.0, 1.5, 3.0) and
    values (1, 10, 5), row 0 would get 5 at 1 or 2 partitions (1.5 is
    not >= 2.0) and 10 at 3 (1.5 lands in a later partition). A
    non-integral key must raise TypeError naming its dtype instead of
    answering by partition count."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        global_max_over_greater,
    )

    df = spark.createDataFrame(
        [(1.0, 1), (1.5, 10), (3.0, 5)], "k double, v bigint"
    )
    for parts in (1, 2, 3):
        with pytest.raises(TypeError, match="double"):
            global_max_over_greater(df, "k", "v", num_partitions=parts)
    for dtype in ("tinyint", "smallint", "int", "bigint"):
        ok = df.select(F.col("k").cast(dtype).alias("k"), "v")
        assert global_max_over_greater(ok, "k", "v").count() == 3


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=-20, max_value=20),
            st.integers(min_value=-20, max_value=20),
        ),
        min_size=1,
        max_size=50,
    ),
    parts=st.integers(min_value=1, max_value=5),
)
def test_global_running_max_property(spark, pts, parts):
    """Property: for ANY (order-key, value) multiset (ties broken by a
    unique id column) and ANY partition count, the two-pass running max
    equals the brute-force prefix max over the (k, id) order."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        global_running_max,
    )

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(pts)],
        "id bigint, k bigint, v bigint",
    )
    try:
        got = {
            r.id: r.m
            for r in global_running_max(
                df, ["k", "id"], "v", "m", num_partitions=parts
            ).collect()
        }
    finally:
        spark.catalog.clearCache()
    order = sorted(range(len(pts)), key=lambda i: (pts[i][0], i))
    running = None
    for i in order:
        v = pts[i][1]
        running = v if running is None else max(running, v)
        assert got[i] == running, (i, pts[i], got[i], running)


def test_hll_sliding_7day_tracks_exact_distinct(spark):
    """The merged-sketch trailing-7-day estimates must track the EXACT
    trailing distinct within HLL's m=256 error envelope (~6.5% standard
    error; gate at 4 sigma = 26% relative, and mean error ≤ 10%)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        load_table,
    )

    sf = "/root/testdata/sf0.01"
    est = {
        str(r["day"]): r["est_distinct"]
        for r in REGISTRY["hll_sliding_7day_users"][0](spark, sf).collect()
    }
    ev = load_table(spark, sf, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    )
    rows = ev.distinct().collect()
    by_day: dict = {}
    for r in rows:
        by_day.setdefault(r["day"], set()).add(r["user_id"])
    days = sorted(by_day)
    rel_errs = []
    for i, d in enumerate(days):
        exact = set()
        for d2 in days[max(0, i - 6) : i + 1]:
            if (d - d2).days <= 6:
                exact |= by_day[d2]
        e = est[str(d)]
        rel = abs(e - len(exact)) / len(exact)
        rel_errs.append(rel)
        assert rel < 0.26, (d, e, len(exact))
    assert sum(rel_errs) / len(rel_errs) <= 0.10, sum(rel_errs) / len(rel_errs)


def test_link_prediction_hub_cap_bounds_wedges(spark, tmp_path):
    """Planted super-hub: a part co-purchased with 60 spokes would
    alone generate C(60,2)=1770 candidate pairs as a wedge center;
    with the deg<=48 cap it generates NONE, while a normal deg-3
    center's 3 pairs survive. This is the guard that keeps the wedge
    count O(|V|*K^2) instead of hub-quadratic."""
    import hashlib

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    ok = [
        k
        for k in range(1, 2000)
        if hashlib.md5(str(k).encode()).hexdigest()[0] in "0123"
    ]
    hub, spokes = ok[0], ok[1:61]
    z, abc = ok[61], ok[62:65]
    rows = []
    for i, p in enumerate(spokes):
        rows += [(1000 + i, hub), (1000 + i, p)]
    for j, x in enumerate(abc):
        rows += [(2000 + j, z), (2000 + j, x)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    li.write.parquet(str(tmp_path / "lineitem.parquet"))

    fn, _ = REGISTRY["link_prediction_scores"]
    got = fn(spark, str(tmp_path)).collect()
    pairs = {(r.part_a, r.part_b) for r in got}
    a, b, c = sorted(abc)
    assert pairs == {(a, b), (a, c), (b, c)}, pairs
    # no spoke pair leaked through the hub center
    spoke_set = set(spokes)
    assert not any(
        r.part_a in spoke_set or r.part_b in spoke_set for r in got
    )


def _write_events(spark, tmp_path, rows):
    """Plant an events.parquet a registry query can load via sf_dir."""
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, "
        "event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_welch_ttest_planted_hand_values(spark, tmp_path):
    """Welch t on a hand-checkable fixture: click = {1, 2, 3},
    view = {2, 4, 6, 8}. Means 2 and 5; s1²=1, s2²=20/3;
    se² = 1/3 + 5/3 = 2; t = -3/sqrt(2); Welch df = 4/(1/18 + 25/27).
    Pins the cents fixed-point path and the exact df formula."""
    import math

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    rows = [
        (i + 1, f"2024-01-01 00:{i:02d}:00", 1, "click", float(v), "{}")
        for i, v in enumerate([1, 2, 3])
    ] + [
        (10 + i, f"2024-01-01 01:{i:02d}:00", 2, "view", float(v), "{}")
        for i, v in enumerate([2, 4, 6, 8])
    ] + [
        (99, "2024-01-01 02:00:00", 3, "purchase", 500.0, "{}"),  # ignored
    ]
    sf = _write_events(spark, tmp_path, rows)
    fn, _ = REGISTRY["welch_ttest_click_view"]
    r = fn(spark, sf).collect()[0]
    assert (r.n1, r.n2) == (3, 4)
    assert (r.mean_click, r.mean_view) == (2.0, 5.0)
    assert r.t_stat == round(-3.0 / math.sqrt(2.0), 6)
    v1n, v2n = 1.0 / 3.0, (20.0 / 3.0) / 4.0
    df_expect = (v1n + v2n) ** 2 / (v1n**2 / 2.0 + v2n**2 / 3.0)
    assert abs(r.df - df_expect) < 1e-6


def test_mood_median_planted(spark, tmp_path):
    """Mood's median on a planted split: grand lower median of
    {1..6} is 3; type A = {1,2,3} -> (3 le, 0 gt),
    type B = {4,5,6} -> (0 le, 3 gt); chi2 of the perfect split = 6."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    rows = [
        (i + 1, f"2024-01-01 00:{i:02d}:00", 1, "click", float(i + 1), "{}")
        for i in range(3)
    ] + [
        (10 + i, f"2024-01-01 01:{i:02d}:00", 2, "view", float(i + 4), "{}")
        for i in range(3)
    ]
    sf = _write_events(spark, tmp_path, rows)
    fn, _ = REGISTRY["mood_median_test"]
    got = {r.event_type: r for r in fn(spark, sf).collect()}
    assert (got["click"].n_le, got["click"].n_gt) == (3, 0)
    assert (got["view"].n_le, got["view"].n_gt) == (0, 3)
    assert got["click"].grand_median == 3.0
    assert got["click"].chi2 == 6.0


def test_trimmed_mean_planted(spark, tmp_path):
    """10% trim on 10 rows drops exactly the min and max: values
    1..9 plus an outlier 1000 -> k=1, kept = 2..9 + 9? no: sorted
    {1..9, 1000}, drop rank 1 (=1) and rank 10 (=1000), mean of
    2..9 = 5.5. The untrimmed mean (104.5) must NOT appear."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    vals = [float(v) for v in range(1, 10)] + [1000.0]
    rows = [
        (i + 1, f"2024-01-01 00:{i:02d}:00", 1, "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    sf = _write_events(spark, tmp_path, rows)
    fn, _ = REGISTRY["trimmed_mean_value_by_type"]
    r = fn(spark, sf).collect()[0]
    assert (r.n, r.n_trimmed_each_side, r.n_kept) == (10, 1, 8)
    assert r.trimmed_mean == 5.5


def test_kruskal_wallis_planted_separation(spark, tmp_path):
    """KW H on perfectly separated groups {1,2,3} vs {4,5,6} vs
    {7,8,9} (no ties): H = 12/(9*10) * (6²+15²+24²)/3 - 3*10 = 7.2;
    tie correction = 1 so h == h_adj."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    rows = []
    for g, (t, base) in enumerate(
        [("click", 1), ("view", 4), ("purchase", 7)]
    ):
        for j in range(3):
            rows.append(
                (g * 10 + j, f"2024-01-01 0{g}:{j:02d}:00", g, t,
                 float(base + j), "{}")
            )
    sf = _write_events(spark, tmp_path, rows)
    fn, _ = REGISTRY["kruskal_wallis_value_by_type"]
    r = fn(spark, sf).collect()[0]
    assert (r.k, r.n) == (3, 9)
    assert r.h == 7.2 and r.h_adj == 7.2


def test_shingle_containment_planted_subset(spark, tmp_path):
    """A doc whose text is a strict prefix of another (same lang, same
    first word) must surface with containment 1.0 on the short side —
    the quote/subset relation Jaccard misses; an unrelated doc in the
    same block with no shared 4-grams must NOT pair."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    long = "alpha beta gamma delta epsilon zeta eta theta"
    short = "alpha beta gamma delta epsilon"  # prefix: all its 4-grams ⊂ long
    other = "alpha one two three four five six"  # same w1, disjoint 4-grams
    rows = [(1, long, "en", "s", len(long)),
            (2, short, "en", "s", len(short)),
            (3, other, "en", "s", len(other))]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    fn, _ = REGISTRY["shingle_containment_pairs"]
    got = {(r.doc_a, r.doc_b): r for r in fn(spark, str(tmp_path)).collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    # short doc (2) has 2 shingles, both inside long's 5
    assert (r.n_sh_a, r.n_sh_b) == (5, 2)
    assert r.cont_b == 1.0 and r.cont_a == 0.4


def test_grs_checkpointed_input_exact(spark):
    """r8 regression pin: global_running_sum fed a frame whose lineage
    contains a localCheckpoint must stay EXACT under adversarial
    partitioning. Under the old persist() pin, the cache lookup
    silently missed for LogicalRDD-childed plans, each branch re-ran
    the range exchange with freshly sampled boundaries, and 50-80% of
    cumulative sums came back corrupted (offsets from one boundary set,
    local sums from another)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        global_running_sum,
    )

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = spark.range(0, 100000).select((F.col("id") % 9973).alias("cv"))
        g = (
            df.groupBy("cv")
            .agg(F.count(F.lit(1)).alias("t"))
            .localCheckpoint(eager=True)
        )
        cum = {
            r.cv: r.c
            for r in global_running_sum(g, ["cv"], "t", "c").collect()
        }
        gmap = {r.cv: r.t for r in g.collect()}
        run = 0
        for k in sorted(gmap):
            run += gmap[k]
            assert cum[k] == run, (k, cum[k], run)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        spark.catalog.clearCache()


def test_sequence_pack_nextfit_invariants(spark):
    """VERDICT r9 §5 invariants for the no-straddle packer: every doc
    placed exactly once, no window over budget, offsets tile each
    window [0, used) without gaps or overlap, and window ids are
    contiguous from 1 per shard."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.packing import (
        packing_fill_report,
        sequence_pack_nextfit,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        load_table,
    )

    budget = 64  # small budget → many windows, truncation path exercised
    docs = load_table(spark, SF_SMOKE, "documents")
    n_docs = docs.count()
    packed = sequence_pack_nextfit(docs, budget=budget, n_shards=8)
    rows = packed.collect()

    # every doc exactly once
    ids = [r.doc_id for r in rows]
    assert len(ids) == n_docs
    assert len(set(ids)) == n_docs

    by_win: dict = {}
    for r in rows:
        assert r.elen == min(r.n_tokens, budget)
        by_win.setdefault((r.shard, r.window_id), []).append(r)
    for (_sh, _w), grp in by_win.items():
        used = sum(r.elen for r in grp)
        assert used <= budget, (_sh, _w, used)
        # offsets tile [0, used): sorted offs are exact running sums
        grp = sorted(grp, key=lambda r: r.off)
        acc = 0
        for r in grp:
            assert r.off == acc, (_sh, _w, r.doc_id, r.off, acc)
            acc += r.elen
        assert acc == used
    # windows contiguous from 1 per shard
    per_shard: dict = {}
    for sh, w in by_win:
        per_shard.setdefault(sh, set()).add(w)
    for sh, ws in per_shard.items():
        assert ws == set(range(1, max(ws) + 1)), (sh, ws)

    # fill report agrees with the assignment
    rep = {
        (r.shard, r.window_id): (r.n_docs, r.used, r.waste, r.fill_milli)
        for r in packing_fill_report(packed, budget=budget).collect()
    }
    assert set(rep) == set(by_win)
    for key, grp in by_win.items():
        used = sum(r.elen for r in grp)
        assert rep[key] == (
            len(grp),
            used,
            budget - used,
            used * 1000 // budget,
        )


def test_semantic_dedup_keeps_one_per_planted_cluster(spark):
    """semantic_dedup on a corpus with planted jittered copies: each
    planted copy must cluster with (and yield to) its original — the
    original is kept, copies dropped; untouched vectors are all kept."""
    from pyspark.sql import functions as F

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
        semantic_dedup,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        load_table,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    copies = base.filter(F.col("vec_id") % 9 == 4).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.expr(
            "concat(array(v[0] + 0.0005D), slice(v, 2, size(v) - 1))"
        ).alias("v"),
    )
    out = semantic_dedup(
        base.unionByName(copies), n_planes=4, threshold_milli=900
    ).collect()
    res = {r.vec_id: r for r in out}
    planted = [v for v in res if v >= 10_000_000]
    assert planted, "fixture produced no planted copies"
    same_cell = 0
    for pid in planted:
        orig = pid - 10_000_000
        if res[pid].cell == res[orig].cell:
            same_cell += 1
            # same cell → the edge must have formed and min-id wins
            assert res[pid].cluster == orig, (pid, res[pid])
            assert not res[pid].kept
            assert res[orig].kept
    # the jitter is tiny: nearly all copies share their original's cell
    assert same_cell >= len(planted) * 3 // 4
    for vid, r in res.items():
        if vid < 10_000_000 and (vid % 9 != 4 or vid + 10_000_000 not in res):
            assert r.kept and r.cluster == vid


def test_anf_hop_registers_match_exact_ball_union(spark):
    """anf_hop_registers on a 5-node path graph must equal, at every
    hop, the per-bucket MAX rho over the EXACT ≤h-hop ball of each
    node — verified against a pure-Python md5 replica of the salted
    m=16 register construction (hll_register_exprs with m=16)."""
    import hashlib

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.graphs import (
        anf_hop_registers,
    )

    def py_reg(node):
        h = hashlib.md5(f"{node}:anf".encode()).hexdigest()
        bucket = h[0]
        stripped = h[1:13].lstrip("0")
        if not stripped:
            return bucket, 49
        c = stripped[0]
        msb = 1 if c == "1" else 2 if c in "23" else 3 if c in "4567" else 4
        return bucket, 4 * (12 - len(stripped)) + (4 - msb) + 1

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "pa long, pb long"
    )
    got = {
        (r.hop, r.node, r.bucket_hex): r.rho
        for r in anf_hop_registers(edges, max_hops=3).collect()
    }
    nodes = [1, 2, 3, 4, 5]
    for h in range(4):
        for v in nodes:
            ball = [u for u in nodes if abs(u - v) <= h]
            want = {}
            for u in ball:
                b, rho = py_reg(u)
                want[b] = max(want.get(b, 0), rho)
            have = {
                b: got[(h, v, b)]
                for (hh, vv, b) in got
                if hh == h and vv == v
            }
            assert have == want, f"hop {h} node {v}: {have} != {want}"
    spark.catalog.clearCache()


def test_anf_hop_summary_equals_unpacked_registers(spark):
    """anf_hop_summary (r12 packed layout: one row per node, m rho
    columns, column-wise MAX recurrence) must produce the EXACT
    (hop, node, s_int, n_regs) that aggregating anf_hop_registers'
    unpacked (node, bucket) rows does — for both m=16 and m=64 — on a
    graph with branching + a disconnected pair, so sketch unions merge
    registers across distinct buckets."""
    from pyspark.sql import functions as F

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.graphs import (
        anf_hop_registers,
        anf_hop_summary,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5), (5, 6), (10, 11)],
        "pa long, pb long",
    )
    for m in (16, 64):
        want = {
            (r.hop, r.node): (r.s_int, r.n_regs)
            for r in anf_hop_registers(edges, max_hops=3, m=m)
            .groupBy("hop", "node")
            .agg(
                F.expr(
                    "CAST(SUM(shiftleft(CAST(1 AS BIGINT), "
                    "CAST(49 - rho AS INT))) AS BIGINT)"
                ).alias("s_int"),
                F.count(F.lit(1)).alias("n_regs"),
            )
            .collect()
        }
        got = {
            (r.hop, r.node): (r.s_int, r.n_regs)
            for r in anf_hop_summary(edges, max_hops=3, m=m).collect()
        }
        assert got == want, f"m={m}: packed summary diverged"
    spark.catalog.clearCache()


def test_kmv_intersection_cardinality_planted(spark):
    """Theta-style intersection cardinality: on planted half-overlap
    sets A=[0,4000), B=[2000,6000) (|A∩B|=2000), the KMV estimate must
    land within 4σ — σ ≈ |A∩B|·√(2/k) combines the Jaccard-ratio and
    union-cardinality variances."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        kmv_intersection_pairs,
        kmv_samples,
    )

    rows = [("A", u) for u in range(4000)] + [
        ("B", u) for u in range(2000, 6000)
    ]
    df = spark.createDataFrame(rows, "grp string, user_id long")
    k = 256
    est = kmv_intersection_pairs(
        kmv_samples(df, "grp", "user_id", k=k), "grp", k=k
    ).collect()
    assert len(est) == 1
    r = est[0]
    assert r.k_used == k
    sigma = 2000 * (2.0 / k) ** 0.5
    assert abs(r.inter_est - 2000) <= 4 * sigma, r
    spark.catalog.clearCache()


def test_bfs_hops_tagged_equals_per_seed_runs(spark):
    """bfs_hops_tagged must return exactly the union of per-seed
    bfs_hops outputs — per-seed ball overlap preserved (a node at
    hop 1 of seed A and hop 2 of seed B appears twice, with its own
    hop for each seed)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.graphs import (
        bfs_hops,
        bfs_hops_tagged,
    )

    # path 1-2-3-4-5 plus a branch 3-6; seeds 1 and 4 overlap at 2-5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (3, 6)], "pa long, pb long"
    )
    seeds = [1, 4]
    got = {
        (r.seed, r.node): r.hop
        for r in bfs_hops_tagged(edges, seeds, max_hops=3).collect()
    }
    want = {}
    for sd in seeds:
        one = bfs_hops(
            edges,
            spark.createDataFrame([(sd,)], "n bigint"),
            max_hops=3,
        )
        for r in one.collect():
            want[(sd, r.node)] = r.hop
    assert got == want
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# r11 second wave: Misra-Gries, harmonic centrality, item-item CF,
# Wilcoxon signed-rank, bootstrap CI
# ---------------------------------------------------------------------------


def test_misra_gries_truncation_identity(spark):
    """Single-bucket MG with k=3 over known counts {a:10, b:8, c:6,
    d:4, e:2, f:1}: delta = the 4th-largest count (4); survivors are
    exactly the three counters above it, each reduced by delta — so
    exact_cnt == mg_cnt + delta_total identically."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        misra_gries,
    )

    rows = [("a",)] * 10 + [("b",)] * 8 + [("c",)] * 6
    rows += [("d",)] * 4 + [("e",)] * 2 + [("f",)]
    df = spark.createDataFrame(rows, "item string")
    got = {
        r.item: (r.mg_cnt, r.delta_total)
        for r in misra_gries(df, "item", k=3, n_buckets=1).collect()
    }
    assert got == {"a": (6, 4), "b": (4, 4), "c": (2, 4)}


def test_misra_gries_no_truncation_is_exact(spark):
    """Vocabulary ≤ k: the summary IS the exact count vector
    (delta_total = 0 everywhere) — the error-0 base case of the
    mergeable construction."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        misra_gries,
    )

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2
    df = spark.createDataFrame(rows, "item string")
    got = {
        r.item: (r.mg_cnt, r.delta_total)
        for r in misra_gries(df, "item", k=10, n_buckets=4).collect()
    }
    assert got == {"a": (5, 0), "b": (3, 0), "c": (2, 0)}


def test_misra_gries_guaranteed_survivor(spark):
    """An item above the survival bound N/(k+1) must be in the summary
    whatever the bucket layout (the mass argument is global: every
    truncation delta removes >= (k+1)*delta of the remaining mass, so
    the sum of deltas along any path is <= N/(k+1)): z has 20 of N=31
    occurrences (> 7.75) against 11 distinct singletons, k=3."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        misra_gries,
    )

    rows = [("z",)] * 20 + [(f"s{i}",) for i in range(11)]
    df = spark.createDataFrame(rows, "item string")
    out = {
        r.item: r.mg_cnt
        for r in misra_gries(df, "item", k=3, n_buckets=4).collect()
    }
    assert "z" in out and out["z"] >= 1
    assert len(out) <= 3  # the merged summary never exceeds k counters


def test_harmonic_centrality_path_graph(spark, tmp_path):
    """Path graph a–b–c (built from md5-0123 partkeys so the 4/16
    slice keeps them): H(a) = 1 + 1/2 = 1.5, H(b) = 2.0, H(c) = 1.5;
    harm_fp are the exact integers 15e8 / 2e9."""
    import hashlib

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    ok = [
        k
        for k in range(1, 2000)
        if hashlib.md5(str(k).encode()).hexdigest()[0] in "0123"
    ]
    a, b, c = sorted(ok[:3])
    rows = [(1, a), (1, b), (2, b), (2, c)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    li.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    fn, _ = REGISTRY["harmonic_centrality_seeds"]
    got = {r.seed: (r.n_reached, r.harm_fp) for r in fn(spark, str(tmp_path)).collect()}
    assert got == {
        a: (2, 1_500_000_000),
        b: (2, 2_000_000_000),
        c: (2, 1_500_000_000),
    }


def test_item_item_heavy_basket_cap(spark, tmp_path):
    """Two 3-part baskets sharing {P, Q} give cosine(P,Q) = 1.0 with
    co = 2; a 26-part power-buyer who also bought P and Q is DROPPED
    by the basket cap (co stays 2, not 3), and co = 1 pairs never
    surface (min support)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    p, q, r_ = 9001, 9002, 9003
    orders = [(1, 11), (2, 12), (3, 13)]
    li = [(1, p), (1, q), (1, r_), (2, p), (2, q)]
    li += [(3, p), (3, q)] + [(3, 20000 + i) for i in range(24)]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        li, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    fn, _ = REGISTRY["item_item_cosine_parts"]
    got = fn(spark, str(tmp_path)).collect()
    assert len(got) == 1
    row = got[0]
    assert (row.p, row.q, row.co_cnt, row.n_p, row.n_q) == (p, q, 2, 2, 2)
    assert row.cosine == 1.0


def test_wilcoxon_signed_rank_hand_values(spark, tmp_path):
    """Hand fixture: daily click−view diffs {+1, +2, −2, +3} (one
    |d|=2 tie pair) → doubled ranks {2, 5, 5, 8}, W2+ = 15,
    Σ(t³−t) = 6, z = (2·15 − 4·5) / (2·√((2·4·5·9 − 6)/12)); a
    clicks==views day must be dropped from n."""
    import math

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    day_specs = [  # (day, clicks, views)
        (1, 2, 1),
        (2, 3, 1),
        (3, 1, 3),
        (4, 4, 1),
        (5, 2, 2),  # d = 0 → dropped
    ]
    rows, eid = [], 0
    for day, ncl, nvw in day_specs:
        for t, cnt in (("click", ncl), ("view", nvw)):
            for j in range(cnt):
                eid += 1
                rows.append(
                    (eid, f"2024-01-0{day} 00:{j:02d}:00", 1, t, 1.0, "{}")
                )
    sf = _write_events(spark, tmp_path, rows)
    fn, _ = REGISTRY["wilcoxon_signed_rank_daily"]
    r = fn(spark, sf).collect()[0]
    assert (r.n, r.n_pos, r.n_neg) == (4, 3, 1)
    assert (r.w2_pos, r.tie_term) == (15, 6)
    assert r.z == round(10.0 / (2.0 * math.sqrt((360.0 - 6.0) / 12.0)), 6)


def test_bootstrap_ci_brackets_observed(spark):
    """On real data the 95% percentile CI must bracket the observed
    total (200 resamples of 30 days) and be non-degenerate."""
    from conftest import SF_SMOKE

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    fn, _ = REGISTRY["bootstrap_mean_ci_daily"]
    r = fn(spark, SF_SMOKE).collect()[0]
    assert r.lo_total < r.obs_total < r.hi_total
    assert r.lo_total < r.hi_total and r.n_boot == 200


def test_sign_flip_planted_extreme(spark, tmp_path):
    """Every day has clicks >> views (d = +3 on 8 days), so |T_b| ≥
    T_obs requires an all-positive sign pattern — none of the 200 md5
    patterns is (P = 2⁻⁸ per pattern but md5 nibbles decide, and the
    fixture is chosen so none hits), giving the floor p = 1/201."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    rows, eid = [], 0
    for day in range(1, 9):
        for t, cnt in (("click", 4), ("view", 1)):
            for j in range(cnt):
                eid += 1
                rows.append(
                    (eid, f"2024-01-0{day} 00:{j:02d}:00", 1, t, 1.0, "{}")
                )
    sf = _write_events(spark, tmp_path, rows)
    fn, _ = REGISTRY["sign_flip_permutation_test"]
    r = fn(spark, sf).collect()[0]
    assert (r.n_days, r.t_obs) == (8, 24)
    # no sign pattern flips fewer than one day, so every |T_b| < 24
    # unless all 8 nibbles are even — assert what the md5 grid gives
    # and that the p-value follows the add-one convention exactly
    assert r.p_value == round((r.n_ge + 1) / 201.0, 6)
    assert r.n_ge <= 2  # all-positive patterns are ~2^-8 rare


def test_psi_planted_shift_flips_stable_flag(spark, tmp_path):
    """Reference days carry values 1..10, current days carry 21..30 —
    every current row lands above the reference's top decile edge, so
    the PSI concentrates in bin 9 and the stable_lt_01 flag must be
    False; an identical-distribution fixture must keep it True."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    def mk(cur_base):
        rows, eid = [], 0
        for day in range(1, 31):
            for j in range(10):
                eid += 1
                v = float(j + 1 if day <= 15 else cur_base + j)
                rows.append(
                    (
                        eid,
                        f"2024-01-{day:02d} 00:{j:02d}:00",
                        1,
                        "click",
                        v,
                        "{}",
                    )
                )
        return rows

    fn, _ = REGISTRY["psi_value_drift"]
    sf = _write_events(spark, tmp_path / "shift", mk(21))
    shifted = fn(spark, sf).collect()
    assert all(not r.stable_lt_01 for r in shifted)
    top_bin = [r for r in shifted if r.bin == 9][0]
    assert top_bin.cur_cnt == 150 and top_bin.ref_cnt <= 15

    sf2 = _write_events(spark, tmp_path / "same", mk(1))
    same = fn(spark, sf2).collect()
    assert all(r.stable_lt_01 for r in same)
    assert all(r.ref_cnt == r.cur_cnt for r in same)


def test_mutual_info_planted_separating_dim(spark, tmp_path):
    """dim 0 maps each of two balanced labels to its own bin (MI =
    ln 2); dim 1 is constant (MI = 0) — the rank must put dim 0 first
    with mi_nats = 0.693147 and dim 1 exactly 0."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )

    rows = [
        (i, [0.0 if i % 2 == 0 else 0.2, 0.3], i % 2) for i in range(10)
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    fn, _ = REGISTRY["mutual_info_embedding_dims"]
    got = {r.dim: r for r in fn(spark, str(tmp_path)).collect()}
    assert got[0].rnk == 1 and got[0].mi_nats == 0.693147
    assert got[1].mi_nats == 0.0


def test_grouped_median_bucket_scaling(spark, monkeypatch, tmp_path):
    """grouped_median_pandas' Arrow-group fan-out must be DATA-
    PROPORTIONAL (VERDICT r12 #1): a fixed bucket count means per-group
    memory grows linearly with input and applyInPandas materializes the
    whole group in one Python worker. Pins (a) the bytes-per-bucket
    bound for planted large input sizes, (b) the small-input floor, and
    (c) that the query's RESULT is invariant to the bucket count (every
    user's rows land in exactly one pmod bucket)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans import (
        queries as q,
    )

    # (a) per-bucket byte bound at planted scales: 1 GiB, 1 TiB, 100 TB
    for planted in (1 << 30, 1 << 40, 100 * 10**12):
        n = q._median_bucket_count(planted)
        assert planted / n <= q._MEDIAN_BUCKET_BYTES + 1e-9, (planted, n)
    # (b) floor keeps small inputs spread across cores
    assert q._median_bucket_count(0) == q._MEDIAN_BUCKET_FLOOR
    assert q._median_bucket_count(2_000_000) == q._MEDIAN_BUCKET_FLOOR

    # (c) result invariance to the bucket count: force a tiny, prime
    # fan-out and compare against the default at the smoke SF
    fn, _ = q.REGISTRY["grouped_median_pandas"]
    base = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))
    monkeypatch.setattr(q, "_MEDIAN_BUCKET_FLOOR", 7)
    small = sorted(map(tuple, fn(spark, SF_SMOKE).collect()))
    assert base == small and len(base) > 0


def test_fused_running_sum_row_number_matches_separate_ops(spark):
    """global_running_sum_row_number (r13 fusion) must emit exactly the
    running sum of the separate global_running_sum AND the row number
    of the separate global_row_number, on a multi-partition frame with
    negative values (the boundary-sweep ±1 deltas it exists for)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        global_row_number,
        global_running_sum,
        global_running_sum_row_number,
    )

    df = spark.createDataFrame(
        [(i, 1 if i % 3 else -2) for i in range(200)], "t bigint, dd bigint"
    ).repartition(9)
    fused = {
        r.t: (r.c, r.rn)
        for r in global_running_sum_row_number(
            df, ["t"], "dd", sum_col="c", rn_col="rn", num_partitions=5
        ).collect()
    }
    cum = {
        r.t: r.c
        for r in global_running_sum(
            df, ["t"], "dd", "c", num_partitions=5
        ).collect()
    }
    rn = {
        r.t: r.rn
        for r in global_row_number(
            df, ["t"], rn_col="rn", num_partitions=5
        ).collect()
    }
    assert fused == {t: (cum[t], rn[t]) for t in cum}
    assert len(fused) == 200

    empty = spark.createDataFrame([], "t bigint, dd bigint")
    assert (
        global_running_sum_row_number(empty, ["t"], "dd").collect() == []
    )
