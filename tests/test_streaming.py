"""Streaming fidelity: replay the reference's documented payloads
(/root/reference/project/starter/README.md:56-103) through the engine
pipelines as streams and assert against the reference's embedded
expected outputs (sparkpykafkajoin.py:133-144,
sparkpyrediskafkastreamtoconsole.py:103-114 — the reference's only
'golden files', SURVEY.md §5).
"""

import base64
import json

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.aggregates import (
    risk_quality_windowed,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.joins import (
    watermarked_stream_join,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans import (
    pipelines,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.memory import (
    stream_from_rows,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
    QueryRunner,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.sinks import (
    to_memory,
)

RAW_KV = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def _customer_envelope(name, email, phone, birthday) -> dict:
    """A redis-server record as Kafka Connect emits it
    (project/starter/README.md:56-92)."""
    element = _b64(
        json.dumps(
            {"customerName": name, "email": email, "phone": phone, "birthDay": birthday}
        )
    )
    return {
        "key": _b64("Customer"),
        "value": json.dumps(
            {
                "key": _b64("Customer"),
                "existType": "NONE",
                "Ch": False,
                "Incr": False,
                "zSetEntries": [{"element": element, "Score": "0.0"}],
            }
        ),
    }


def _foreign_envelope() -> dict:
    """A redis write for a non-Customer key: decodes to all-null
    Customer fields, must be filtered (sparkpykafkajoin.py:99-100)."""
    return {
        "key": _b64("Payment"),
        "value": json.dumps(
            {
                "key": _b64("Payment"),
                "existType": "NONE",
                "Ch": True,
                "Incr": False,
                "zSetEntries": [{"element": _b64('{"amount": 4.5}'), "Score": "1.0"}],
            }
        ),
    }


def _risk_event(customer, score, risk_date) -> dict:
    return {
        "key": customer,
        "value": json.dumps(
            {"customer": customer, "score": score, "riskDate": risk_date}
        ),
    }


CUSTOMERS = [
    ("Santosh Fibonnaci", "Santosh.Fibonnaci@test.com", "8015551212", "1963-01-01"),
    ("Sarah Clark", "Sarah.Clark@test.com", "8015551213", "1957-03-02"),
    ("Sam Test", "Sam.Test@test.com", "8015551214", "1993-07-04"),
]

RISK_EVENTS = [
    ("Santosh.Fibonnaci@test.com", "28.5", "2020-09-14T07:54:06.417Z"),
    ("Sarah.Clark@test.com", "-5.0", "2020-09-14T07:54:09.100Z"),
    ("Unknown.Person@test.com", "99.9", "2020-09-14T07:55:00.000Z"),
]


@pytest.fixture
def runner():
    r = QueryRunner()
    yield r
    r.stop_all()


def test_customer_decode_stream_golden(spark, runner):
    """§3.2 pipeline replay → the reference's expected (email,
    birthYear) table (sparkpyrediskafkastreamtoconsole.py:103-114)."""
    rows = [_customer_envelope(*c) for c in CUSTOMERS] + [_foreign_envelope()]
    raw = stream_from_rows(spark, rows, RAW_KV)
    out = pipelines.customer_decode_pipeline(raw)
    q = runner.add("decode", to_memory(out, "decode_out"))
    q.awaitTermination()
    got = {(r.email, r.birthYear) for r in spark.sql("SELECT * FROM decode_out").collect()}
    assert got == {
        ("Santosh.Fibonnaci@test.com", "1963"),
        ("Sarah.Clark@test.com", "1957"),
        ("Sam.Test@test.com", "1993"),
    }


def test_risk_events_stream_golden(spark, runner):
    """§3.3 pipeline replay → (customer, score) rows
    (sparkpyeventskafkastreamtoconsole.py:39-45)."""
    rows = [_risk_event(*e) for e in RISK_EVENTS]
    raw = stream_from_rows(spark, rows, RAW_KV)
    out = pipelines.risk_event_pipeline(raw)
    q = runner.add("risk", to_memory(out, "risk_out"))
    q.awaitTermination()
    got = {(r.customer, r.score) for r in spark.sql("SELECT * FROM risk_out").collect()}
    assert got == {
        ("Santosh.Fibonnaci@test.com", "28.5"),
        ("Sarah.Clark@test.com", "-5.0"),
        ("Unknown.Person@test.com", "99.9"),
    }


def test_flagship_join_stream_golden(spark, runner):
    """§3.1 stream-stream inner join replay → the reference's output
    contract {customer, score, email, birthYear}
    (sparkpykafkajoin.py:133-144). The un-matched risk event and the
    foreign envelope must both be absent."""
    redis_raw = stream_from_rows(
        spark,
        [_customer_envelope(*c) for c in CUSTOMERS] + [_foreign_envelope()],
        RAW_KV,
    )
    events_raw = stream_from_rows(spark, [_risk_event(*e) for e in RISK_EVENTS], RAW_KV)
    out = pipelines.flagship_join_pipeline(redis_raw, events_raw)
    q = runner.add("join", to_memory(out, "join_out"))
    q.awaitTermination()
    got = {
        (r.customer, r.score, r.email, r.birthYear)
        for r in spark.sql("SELECT * FROM join_out").collect()
    }
    assert got == {
        ("Santosh.Fibonnaci@test.com", "28.5", "Santosh.Fibonnaci@test.com", "1963"),
        ("Sarah.Clark@test.com", "-5.0", "Sarah.Clark@test.com", "1957"),
    }


def test_flagship_join_duplicate_semantics(spark, runner):
    """T7 fidelity: the changefeed re-emits customer versions; the
    watermark-less inner join emits one row per (version × event)."""
    redis_raw = stream_from_rows(
        spark,
        [_customer_envelope(*CUSTOMERS[0])] * 3,  # 3 re-emissions
        RAW_KV,
    )
    events_raw = stream_from_rows(
        spark, [_risk_event(*RISK_EVENTS[0])] * 2, RAW_KV
    )
    out = pipelines.flagship_join_pipeline(redis_raw, events_raw)
    q = runner.add("dup", to_memory(out, "dup_out"))
    q.awaitTermination()
    assert spark.sql("SELECT * FROM dup_out").count() == 6  # 3 × 2


def test_to_json_kafka_value_contract(spark, runner):
    """F2: the Kafka sink value is one JSON object with the four
    fields (sparkpykafkajoin.py:144-145)."""
    redis_raw = stream_from_rows(spark, [_customer_envelope(*CUSTOMERS[0])], RAW_KV)
    events_raw = stream_from_rows(spark, [_risk_event(*RISK_EVENTS[0])], RAW_KV)
    out = pipelines.flagship_join_as_kafka_value(redis_raw, events_raw)
    q = runner.add("kv", to_memory(out, "kv_out"))
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM kv_out").collect()
    assert len(rows) == 1
    payload = json.loads(rows[0].value)
    assert payload == {
        "email": "Santosh.Fibonnaci@test.com",
        "birthYear": "1963",
        "customer": "Santosh.Fibonnaci@test.com",
        "score": "28.5",
    }


def test_watermarked_join_scale_mode(spark, runner):
    """The 100 TB-safe variant: watermarks + time-range condition on
    both sides still joins in-window events."""
    cust = [
        {"email": "a@test.com", "ts": "2024-01-01T00:00:10.000Z"},
        {"email": "b@test.com", "ts": "2024-01-01T00:00:20.000Z"},
    ]
    ev = [
        {"customer": "a@test.com", "score": "5.0", "ts": "2024-01-01T00:10:00.000Z"},
        {"customer": "b@test.com", "score": "7.0", "ts": "2024-01-01T03:00:00.000Z"},
    ]
    cust_schema = "email string, ts timestamp"
    ev_schema = "customer string, score string, ts timestamp"
    from pyspark.sql.types import _parse_datatype_string

    left = stream_from_rows(spark, cust, _parse_datatype_string(cust_schema)).withColumnRenamed("ts", "cts")
    right = stream_from_rows(spark, ev, _parse_datatype_string(ev_schema)).withColumnRenamed("ts", "ets")
    joined = watermarked_stream_join(
        left,
        right,
        "email = customer",
        "cts",
        "ets",
        watermark="1 hour",
        range_cond="ets BETWEEN cts AND cts + INTERVAL 1 HOUR",
    )
    q = runner.add("wm", to_memory(joined.select("email", "score"), "wm_out"))
    q.awaitTermination()
    got = {(r.email, r.score) for r in spark.sql("SELECT * FROM wm_out").collect()}
    # b's event is 3h after the profile — outside the join window
    assert got == {("a@test.com", "5.0")}


def test_risk_quality_streaming_windowed(spark, runner):
    """Streaming twin of risk_quality_windowed: watermarked tumbling
    windows over a replayed event stream."""
    from pyspark.sql.types import _parse_datatype_string

    rows = [
        {"ts": "2024-01-01T00:01:00.000Z", "value": 10.0},
        {"ts": "2024-01-01T00:05:00.000Z", "value": 20.0},
        {"ts": "2024-01-01T00:20:00.000Z", "value": 30.0},
        {"ts": "2024-01-01T02:00:00.000Z", "value": 40.0},  # advances watermark
    ]
    stream = stream_from_rows(
        spark, rows, _parse_datatype_string("ts timestamp, value double")
    )
    agg = risk_quality_windowed(stream, window="15 minutes", watermark="30 minutes")
    q = runner.add("rq", to_memory(agg, "rq_out", output_mode="append"))
    q.awaitTermination()
    got = {
        (str(r.window_start), r.n_events, r.total_score)
        for r in spark.sql("SELECT * FROM rq_out").collect()
    }
    assert ("2024-01-01 00:00:00", 2, 30.0) in got
    assert ("2024-01-01 00:15:00", 1, 30.0) in got


def test_complete_mode_aggregation(spark, runner):
    """Complete output mode: every trigger re-emits the FULL aggregate
    table (the mode the reference's console sink would need for
    grouped aggregations)."""
    from pyspark.sql.types import _parse_datatype_string

    rows = [
        {"user_id": 1, "value": 10.0},
        {"user_id": 1, "value": 20.0},
        {"user_id": 2, "value": 5.0},
    ]
    stream = stream_from_rows(
        spark, rows, _parse_datatype_string("user_id bigint, value double")
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
    )
    q = runner.add(
        "complete", to_memory(agg, "complete_out", output_mode="complete")
    )
    q.awaitTermination()
    got = {
        r.user_id: (r.n, r.total)
        for r in spark.sql("SELECT * FROM complete_out").collect()
    }
    assert got == {1: (2, 30.0), 2: (1, 5.0)}


def test_stream_stream_left_outer_join(spark, runner):
    """Streaming LEFT OUTER join — unlike the reference's inner join,
    this REQUIRES watermarks + a time bound so unmatched left rows can
    be emitted with nulls once the watermark passes."""
    from pyspark.sql.types import _parse_datatype_string

    cust = [
        {"email": "a@test.com", "cts": "2024-01-01T00:00:00.000Z"},
        {"email": "lonely@test.com", "cts": "2024-01-01T00:00:05.000Z"},
        # far-future row pushes the watermark so the unmatched row emits
        {"email": "late@test.com", "cts": "2024-01-02T00:00:00.000Z"},
    ]
    ev = [
        {"customer": "a@test.com", "score": "5.0", "ets": "2024-01-01T00:10:00.000Z"},
        {"customer": "wm@test.com", "score": "0.0", "ets": "2024-01-02T00:00:00.000Z"},
    ]
    left = stream_from_rows(
        spark, cust, _parse_datatype_string("email string, cts timestamp")
    ).withWatermark("cts", "10 seconds")
    right = stream_from_rows(
        spark, ev, _parse_datatype_string("customer string, score string, ets timestamp")
    ).withWatermark("ets", "10 seconds")
    joined = left.join(
        right,
        F.expr(
            "email = customer AND ets BETWEEN cts AND cts + INTERVAL 1 HOUR"
        ),
        "left_outer",
    ).select("email", "score")
    q = runner.add("louter", to_memory(joined, "louter_out"))
    q.awaitTermination()
    got = {(r.email, r.score) for r in spark.sql("SELECT * FROM louter_out").collect()}
    assert ("a@test.com", "5.0") in got
    assert ("lonely@test.com", None) in got  # null-padded after watermark


def test_streaming_near_dup_filter(spark, runner):
    """Ingest dedup: identical and trivially-reordered duplicates
    collapse to one surviving row per simhash within the watermark."""
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
        streaming_near_dup_filter,
    )

    text_a = "the quick brown fox jumps over the lazy dog " * 5
    text_b = "completely different content about spark streaming engines " * 5
    rows = [
        {"doc_id": 1, "ts": "2024-01-01T00:00:00.000Z", "text": text_a},
        {"doc_id": 2, "ts": "2024-01-01T00:01:00.000Z", "text": text_a},  # dup
        {"doc_id": 3, "ts": "2024-01-01T00:02:00.000Z", "text": text_b},
        {"doc_id": 4, "ts": "2024-01-01T00:03:00.000Z", "text": text_a},  # dup
    ]
    stream = stream_from_rows(
        spark,
        rows,
        _parse_datatype_string("doc_id bigint, ts timestamp, text string"),
    )
    deduped = streaming_near_dup_filter(stream, watermark="1 hour")
    q = runner.add("neardup", to_memory(deduped.select("doc_id"), "neardup_out"))
    q.awaitTermination()
    survivors = {r.doc_id for r in spark.sql("SELECT * FROM neardup_out").collect()}
    assert len(survivors) == 2
    assert 3 in survivors  # the distinct doc always survives
    assert len(survivors & {1, 2, 4}) == 1  # exactly one copy of text_a


def test_streaming_session_window(spark, runner):
    """Gap-based session windows over a watermarked stream: events
    within 10 minutes merge into one session; the late far-future row
    closes the watermark so sessions emit in append mode."""
    from pyspark.sql.types import _parse_datatype_string

    rows = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00.000Z"},
        {"user_id": 1, "ts": "2024-01-01T00:05:00.000Z"},  # same session
        {"user_id": 1, "ts": "2024-01-01T00:30:00.000Z"},  # new session
        {"user_id": 2, "ts": "2024-01-01T10:00:00.000Z"},  # watermark driver
    ]
    stream = stream_from_rows(
        spark, rows, _parse_datatype_string("user_id bigint, ts timestamp")
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("start"), "n")
    )
    q = runner.add("sess", to_memory(agg, "sess_out", output_mode="append"))
    q.awaitTermination()
    got = {
        (r.user_id, str(r.start), r.n)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    assert (1, "2024-01-01 00:00:00", 2) in got
    assert (1, "2024-01-01 00:30:00", 1) in got


def test_parquet_sink_exactly_once(spark, runner, tmp_path):
    """T8: checkpointed parquet sink lands every row exactly once."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.sinks import (
        to_parquet,
    )

    rows = [_customer_envelope(*c) for c in CUSTOMERS]
    raw = stream_from_rows(spark, rows, RAW_KV)
    out = pipelines.customer_decode_pipeline(raw)
    q = to_parquet(
        out,
        str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination()
    landed = spark.read.parquet(str(tmp_path / "out"))
    assert landed.count() == 3
    assert set(landed.columns) == {"email", "birthYear"}


def test_streaming_windowed_topk(spark, runner):
    """Streaming analytics pattern: windowed event-type counts, ranked
    per window in the foreachBatch consumer (rank AFTER the stateful
    agg — windowed counts stream incrementally; the tiny per-window
    rank runs on the emitted deltas, the standard split at scale)."""
    from pyspark.sql.types import _parse_datatype_string

    rows = [
        {"ts": "2024-01-01T00:01:00.000Z", "event_type": "view"},
        {"ts": "2024-01-01T00:02:00.000Z", "event_type": "view"},
        {"ts": "2024-01-01T00:03:00.000Z", "event_type": "click"},
        {"ts": "2024-01-01T00:04:00.000Z", "event_type": "view"},
        {"ts": "2024-01-01T02:00:00.000Z", "event_type": "late-driver"},
    ]
    stream = stream_from_rows(
        spark, rows, _parse_datatype_string("ts timestamp, event_type string")
    )
    counts = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = []

    def rank_batch(df, _e):
        from pyspark.sql.window import Window

        if df.isEmpty():
            return
        rk = F.row_number().over(
            Window.partitionBy("w").orderBy(F.col("n").desc(), "event_type")
        )
        out.extend(
            (r.w.start.isoformat(), r.event_type, r.n, r.rk)
            for r in df.withColumn("rk", rk).filter(F.col("rk") <= 2).collect()
        )

    q = (
        counts.writeStream.outputMode("append")
        .foreachBatch(rank_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    first_window = sorted(x for x in out if x[0].startswith("2024-01-01T00:0"))
    assert ("2024-01-01T00:00:00", "view", 3, 1) in first_window
    assert ("2024-01-01T00:00:00", "click", 1, 2) in first_window


def test_reference_topology_concurrent(spark, runner):
    """The reference's deployed topology in one session: all THREE
    pipelines (sparkpyrediskafkastreamtoconsole, sparkpyevents...,
    sparkpykafkajoin) running CONCURRENTLY from the stedi_sim streaming
    source's two topics, each to its own memory sink — the in-sandbox
    analogue of the reference's three spark-submit processes against
    the Kafka/Redis stack. Golden check: each stream's output equals
    the same pipeline run over the identical batch read (replay-twin
    equality), plus spot asserts of reference-contract values."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.simulator import (
        register_stedi_simulator,
    )

    register_stedi_simulator(spark)
    N = 40

    def stream_topic(topic):
        return (
            spark.readStream.format("stedi_sim")
            .option("rows", N)
            .option("rows_per_batch", 15)
            .option("topic", topic)
            .load()
        )

    def batch_topic(topic):
        return (
            spark.read.format("stedi_sim")
            .option("rows", N)
            .option("topic", topic)
            .load()
        )

    # three concurrent queries, one session (reference runs 3 processes)
    # default trigger + drain(): availableNow on a
    # SimpleDataSourceStreamReader only covers the rows prefetched at
    # trigger time (one micro-batch); processAllAvailable drains the
    # full configured backlog of all three queries deterministically
    runner.add(
        "decode",
        to_memory(
            pipelines.customer_decode_pipeline(stream_topic("customer")),
            "topo_decode",
            available_now=False,
        ),
    )
    runner.add(
        "risk",
        to_memory(
            pipelines.risk_event_pipeline(stream_topic("stedi-events")),
            "topo_risk",
            available_now=False,
        ),
    )
    runner.add(
        "join",
        to_memory(
            pipelines.flagship_join_pipeline(
                stream_topic("customer"), stream_topic("stedi-events")
            ),
            "topo_join",
            available_now=False,
        ),
    )
    assert len([q for q in runner.queries.values() if q.isActive]) == 3
    runner.drain()

    got_decode = {
        tuple(r) for r in spark.sql("SELECT * FROM topo_decode").collect()
    }
    want_decode = {
        tuple(r)
        for r in pipelines.customer_decode_pipeline(batch_topic("customer")).collect()
    }
    assert got_decode == want_decode and len(got_decode) == N
    assert ("c0@test.com", "1950") in got_decode

    got_risk = {tuple(r) for r in spark.sql("SELECT * FROM topo_risk").collect()}
    want_risk = {
        tuple(r)
        for r in pipelines.risk_event_pipeline(batch_topic("stedi-events")).collect()
    }
    assert got_risk == want_risk and len(got_risk) == N
    assert ("c0@test.com", "-30.0") in got_risk  # score = ((0%41)-20)*1.5

    got_join = {tuple(r) for r in spark.sql("SELECT * FROM topo_join").collect()}
    want_join = {
        tuple(r)
        for r in pipelines.flagship_join_pipeline(
            batch_topic("customer"), batch_topic("stedi-events")
        ).collect()
    }
    assert got_join == want_join and len(got_join) == N  # every event matches


def test_stream_static_broadcast_enrichment(spark, runner):
    """Stream-static join — the standard streaming enrichment pattern:
    a micro-batched event stream joined to a static broadcast dimension
    (no state store involved; each micro-batch hash-joins against the
    broadcast table). The static side would broadcast on a cluster and
    the stream side never shuffles."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.joins import (
        broadcast_join,
    )

    dim = spark.createDataFrame(
        [("c1@test.com", "gold"), ("c2@test.com", "basic")],
        "email string, tier string",
    )
    rows = [
        {"customer": "c1@test.com", "score": "10.0"},
        {"customer": "c2@test.com", "score": "-3.0"},
        {"customer": "c9@test.com", "score": "7.0"},  # no dim row → dropped
    ]
    schema = StructType(
        [StructField("customer", StringType()), StructField("score", StringType())]
    )
    stream = stream_from_rows(spark, rows, schema)
    enriched = broadcast_join(stream, dim, "customer = email").select(
        "customer", "score", "tier"
    )
    q = runner.add("enrich", to_memory(enriched, "enrich_out"))
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("SELECT * FROM enrich_out").collect()}
    assert got == {
        ("c1@test.com", "10.0", "gold"),
        ("c2@test.com", "-3.0", "basic"),
    }


def test_streaming_mixture_sample_matches_batch(spark, runner):
    """Curation-at-ingest: mixture_sample is pure stateless row logic
    (md5-prefix vs broadcast per-group thresholds), so it must run
    unchanged on a streaming DataFrame and keep EXACTLY the rows the
    batch form keeps — the content-derived hash cannot depend on
    micro-batch boundaries. Certifies the sampler as a streaming
    operator without a separate implementation."""
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sampling import (
        mixture_sample,
    )

    rows = [
        {"doc_id": i, "lang": lang, "text": f"doc {i}"}
        for i, lang in enumerate(
            ["en", "de", "es"] * 40
        )
    ]
    schema = _parse_datatype_string("doc_id bigint, lang string, text string")
    rates = {"en": 0.3, "de": 0.8, "es": 1.0}

    batch_df = spark.createDataFrame(
        [(r["doc_id"], r["lang"], r["text"]) for r in rows], schema=schema
    )
    batch_kept = {
        r.doc_id
        for r in mixture_sample(batch_df, rates).collect()
    }

    stream = stream_from_rows(spark, rows, schema)
    sampled = mixture_sample(stream, rates)
    q = runner.add("mixstream", to_memory(sampled.select("doc_id"), "mixstream_out"))
    q.awaitTermination()
    stream_kept = {
        r.doc_id for r in spark.sql("SELECT * FROM mixstream_out").collect()
    }
    assert stream_kept == batch_kept
    assert 0 < len(stream_kept) < len(rows)


def test_statestore_reader_exposes_agg_state(spark, tmp_path):
    """The statestore data source must surface a stateful aggregate's
    checkpointed per-key state, matching the query's visible output —
    streaming observability without stopping the pipeline."""
    import pyspark.sql.functions as F

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        read_query_state,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("a", 3.0)], "k string, v double"
    ).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("k string, v double").json(src)
    agg = stream.groupBy("k").agg(F.sum("v").alias("total"))
    q = (
        agg.writeStream.format("memory")
        .queryName("sst_out")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    visible = {(r.k, r.total) for r in spark.sql("SELECT * FROM sst_out").collect()}
    state = {
        (r["key"]["k"], r["value"]["sum"])
        for r in read_query_state(spark, ckpt).collect()
    }
    assert state == visible == {("a", 4.0), ("b", 2.0)}


def test_watermarked_left_outer_stream_join_emits_null_after_expiry(spark, tmp_path):
    """Left-outer stream-stream join: the unmatched left row must emit
    with NULL right columns once the watermark passes its join window —
    the semantics that make outer enrichment possible at scale (state
    is evicted, not held forever). A second micro-batch far in the
    future advances both watermarks past the first batch's window."""
    import json as _json
    import os as _os

    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.joins import (
        watermarked_stream_join,
    )

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    _os.makedirs(ldir), _os.makedirs(rdir)
    lrows1 = [
        {"email": "a@test.com", "cts": "2024-01-01T00:00:00.000Z"},
        {"email": "c@test.com", "cts": "2024-01-01T00:01:00.000Z"},
    ]
    rrows1 = [
        {"customer": "a@test.com", "score": "5.0", "ets": "2024-01-01T00:05:00.000Z"}
    ]
    # watermark pushers: 3 hours later, keys that match nothing
    lrows2 = [{"email": "z@test.com", "cts": "2024-01-01T03:00:00.000Z"}]
    rrows2 = [
        {"customer": "zz@test.com", "score": "0.0", "ets": "2024-01-01T03:00:00.000Z"}
    ]
    for d, batches in ((ldir, (lrows1, lrows2)), (rdir, (rrows1, rrows2))):
        for i, rows in enumerate(batches):
            with open(f"{d}/f{i}.json", "w") as f:
                for r in rows:
                    f.write(_json.dumps(r) + "\n")
            _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    lschema = _parse_datatype_string("email string, cts timestamp")
    rschema = _parse_datatype_string("customer string, score string, ets timestamp")
    left = (
        spark.readStream.format("json").schema(lschema)
        .option("maxFilesPerTrigger", "1").load(ldir)
    )
    right = (
        spark.readStream.format("json").schema(rschema)
        .option("maxFilesPerTrigger", "1").load(rdir)
    )
    joined = watermarked_stream_join(
        left,
        right,
        "email = customer",
        "cts",
        "ets",
        watermark="10 minutes",
        range_cond="ets BETWEEN cts AND cts + INTERVAL 10 MINUTES",
        how="left_outer",
    )
    q = (
        joined.select("email", "score")
        .writeStream.format("memory")
        .queryName("lo_join_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.email, r.score) for r in spark.sql("SELECT * FROM lo_join_tbl").collect()}
    # a@ matched inside the window; c@ expired unmatched -> NULL score.
    # The 3h pushers themselves are still inside their own windows at
    # query end, so they must NOT emit.
    assert got == {("a@test.com", "5.0"), ("c@test.com", None)}, got


def test_windowed_topk_matches_batch(spark, tmp_path):
    """Streaming windowed top-k (EventTimeTimeout emission) must equal
    the batch groupBy(window, type) + rank ≤ k result for every window
    the watermark closed. A far-future sentinel event advances the
    watermark past all real windows so each one emits exactly once."""
    import json as _json
    import os as _os
    import time as _t

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string
    from pyspark.sql.window import Window

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        windowed_topk,
    )

    types = ["view", "click", "purchase", "error"]
    rows = []
    for m in range(40):  # 4 ten-minute windows of real data
        for j in range((m * 3) % 4 + 1):
            rows.append(
                {
                    "event_type": types[(m + j * j) % len(types)],
                    "ts": f"2024-01-01T00:{m:02d}:{(7 * j) % 60:02d}.000Z",
                }
            )
    rows.sort(key=lambda r: r["ts"])
    # sentinel far in the future: pushes the watermark beyond every
    # real window's end + delay so all 4 windows time out and emit
    sentinel = {"event_type": "view", "ts": "2024-01-01T12:00:00.000Z"}

    d = str(tmp_path / "topk_stream")
    _os.makedirs(d)
    third = (len(rows) + 2) // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :], [sentinel]]
    for i, chunk in enumerate(chunks):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))
        _t.sleep(0.01)

    schema = _parse_datatype_string("event_type string, ts timestamp")
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    q = (
        windowed_topk(stream, window_minutes=10, delay="10 minutes", k=3)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("topk_stream_tbl")
        .start()
    )
    try:
        q.processAllAvailable()
        # timeouts fire in a trigger AFTER the watermark advances; hold
        # the query open until the closed windows have emitted
        for _ in range(100):
            if spark.sql("SELECT count(*) c FROM topk_stream_tbl").first().c >= 4:
                break
            _t.sleep(0.2)
            q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    got = {
        (r.window_start.isoformat(), r.rank): (r.event_type, r.n)
        for r in spark.sql("SELECT * FROM topk_stream_tbl").collect()
    }

    batch = spark.createDataFrame(
        [(r["event_type"], r["ts"]) for r in rows],
        "event_type string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    w = Window.partitionBy("wstart").orderBy(F.desc("n"), F.asc("event_type"))
    exp_rows = (
        batch.groupBy(
            F.window("ts", "10 minutes")["start"].alias("wstart"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    )
    expected = {
        (r.wstart.isoformat(), r.rank): (r.event_type, r.n) for r in exp_rows
    }
    assert got == expected
    assert len({ws for ws, _ in got}) == 4


def test_windowed_topk_non_utc_session_timezone(spark, tmp_path):
    """ADVICE r4 regression: the event-time timeout must come from
    unix_millis(window.end) computed in SQL, not from re-interpreting
    the session-tz-rendered key timestamp as UTC — under a non-UTC
    session timezone the old form skewed every window close by the tz
    offset (early finalization drops late-chunk events / re-fires).
    Runs the stream under America/New_York and checks it still equals
    the batch twin exactly."""
    import json as _json
    import os as _os
    import time as _t

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string
    from pyspark.sql.window import Window

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        windowed_topk,
    )

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        types = ["view", "click", "purchase"]
        rows = []
        for m in range(20):  # 2 ten-minute windows
            for j in range(m % 3 + 1):
                rows.append(
                    {
                        "event_type": types[(m + j) % len(types)],
                        "ts": f"2024-01-01T00:{m:02d}:{(11 * j) % 60:02d}.000Z",
                    }
                )
        rows.sort(key=lambda r: r["ts"])
        sentinel = {"event_type": "view", "ts": "2024-01-01T12:00:00.000Z"}

        d = str(tmp_path / "topk_tz_stream")
        _os.makedirs(d)
        half = (len(rows) + 1) // 2
        chunks = [rows[:half], rows[half:], [sentinel]]
        for i, chunk in enumerate(chunks):
            with open(f"{d}/f{i}.json", "w") as f:
                for r in chunk:
                    f.write(_json.dumps(r) + "\n")
            _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))
            _t.sleep(0.01)

        schema = _parse_datatype_string("event_type string, ts timestamp")
        stream = (
            spark.readStream.format("json")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(d)
        )
        q = (
            windowed_topk(stream, window_minutes=10, delay="10 minutes", k=3)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("topk_tz_tbl")
            .start()
        )
        try:
            q.processAllAvailable()
            for _ in range(100):
                if spark.sql("SELECT count(*) c FROM topk_tz_tbl").first().c >= 2:
                    break
                _t.sleep(0.2)
                q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

        got = {
            (r.window_start.isoformat(), r.rank): (r.event_type, r.n)
            for r in spark.sql("SELECT * FROM topk_tz_tbl").collect()
        }
        batch = spark.createDataFrame(
            [(r["event_type"], r["ts"]) for r in rows],
            "event_type string, ts_s string",
        ).withColumn("ts", F.to_timestamp("ts_s"))
        w = Window.partitionBy("wstart").orderBy(F.desc("n"), F.asc("event_type"))
        exp_rows = (
            batch.groupBy(
                F.window("ts", "10 minutes")["start"].alias("wstart"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .collect()
        )
        expected = {
            (r.wstart.isoformat(), r.rank): (r.event_type, r.n) for r in exp_rows
        }
        assert got == expected
        assert len({ws for ws, _ in got}) == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
        spark.catalog.clearCache()


def test_transition_tracker_state_bounded_by_keyset(spark, tmp_path):
    """T6 state bound, proven EMPIRICALLY under sustained replay: 8
    micro-batches x 125 events stream through transition_tracker, and
    the checkpointed state (read via the statestore source,
    time-traveled to EVERY committed batch) holds exactly one row per
    distinct user at each point — state grows with the keyset, never
    with event volume (1000 events -> 5 state rows, flat across all 8
    batches)."""
    import json as _json
    import os as _os
    import time as _t

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        read_query_state,
        transition_tracker,
    )
    from pyspark.sql.types import _parse_datatype_string

    n_users, n_batches = 5, 8
    src = str(tmp_path / "tt_src")
    ckpt = str(tmp_path / "tt_ckpt")
    _os.makedirs(src)
    types = ["view", "click", "buy"]
    seq = 0
    for b in range(n_batches):
        with open(f"{src}/f{b}.json", "w") as f:
            for i in range(125):
                u = i % n_users
                f.write(
                    _json.dumps(
                        {
                            "user_id": u,
                            "event_type": types[(b + i) % 3],
                            "ts": f"2024-01-01T00:{b:02d}:{i % 60:02d}.{seq % 1000:03d}Z",
                            "event_id": seq,
                        }
                    )
                    + "\n"
                )
                seq += 1
        _os.utime(f"{src}/f{b}.json", (1700000000 + b, 1700000000 + b))
        _t.sleep(0.01)

    schema = _parse_datatype_string(
        "user_id long, event_type string, ts timestamp, event_id long"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        transition_tracker(stream)
        .writeStream.format("memory")
        .queryName("tt_state_bound")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # every committed micro-batch: state rows == keyset size, flat
    sizes = []
    for b in range(n_batches):
        rows = read_query_state(spark, ckpt, batchId=b).collect()
        keys = {r["key"]["user_id"] for r in rows}
        sizes.append(len(rows))
        assert len(rows) == n_users and keys == set(range(n_users)), (
            f"batch {b}: {len(rows)} state rows"
        )
    assert sizes == [n_users] * n_batches
    # while the stream processed 8x that many EVENTS per user
    total = spark.sql(
        "SELECT sum(n) s FROM tt_state_bound"
    ).first().s
    assert total == n_batches * 125 - n_users  # first event/user has no 'from'


def test_watermarked_left_semi_stream_join_drops_unmatched(spark, tmp_path):
    """Left-SEMI stream-stream join (the existence-check enrichment:
    'keep customer rows that saw a score event in the window, emit
    them once, carry no right columns'): matched left rows emit
    exactly once even when the right side matches twice; unmatched
    left rows never emit and their state evicts at the watermark —
    completing the stream-join matrix beside the inner and left-outer
    tests."""
    import json as _json
    import os as _os

    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.joins import (
        watermarked_stream_join,
    )

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    _os.makedirs(ldir), _os.makedirs(rdir)
    lrows1 = [
        {"email": "a@test.com", "cts": "2024-01-01T00:00:00.000Z"},
        {"email": "c@test.com", "cts": "2024-01-01T00:01:00.000Z"},
    ]
    # a@ matches TWICE inside the window: semi must still emit once
    rrows1 = [
        {"customer": "a@test.com", "score": "5.0", "ets": "2024-01-01T00:04:00.000Z"},
        {"customer": "a@test.com", "score": "6.0", "ets": "2024-01-01T00:05:00.000Z"},
    ]
    lrows2 = [{"email": "z@test.com", "cts": "2024-01-01T03:00:00.000Z"}]
    rrows2 = [
        {"customer": "zz@test.com", "score": "0.0", "ets": "2024-01-01T03:00:00.000Z"}
    ]
    for d, batches in ((ldir, (lrows1, lrows2)), (rdir, (rrows1, rrows2))):
        for i, rows in enumerate(batches):
            with open(f"{d}/f{i}.json", "w") as f:
                for r in rows:
                    f.write(_json.dumps(r) + "\n")
            _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    lschema = _parse_datatype_string("email string, cts timestamp")
    rschema = _parse_datatype_string("customer string, score string, ets timestamp")
    left = (
        spark.readStream.format("json").schema(lschema)
        .option("maxFilesPerTrigger", "1").load(ldir)
    )
    right = (
        spark.readStream.format("json").schema(rschema)
        .option("maxFilesPerTrigger", "1").load(rdir)
    )
    joined = watermarked_stream_join(
        left,
        right,
        "email = customer",
        "cts",
        "ets",
        watermark="10 minutes",
        range_cond="ets BETWEEN cts AND cts + INTERVAL 10 MINUTES",
        how="left_semi",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ls_join_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM ls_join_tbl").collect()
    # only left columns exist on a semi join
    assert {f.name for f in spark.table("ls_join_tbl").schema.fields} == {
        "email",
        "cts",
    }
    emails = sorted(r.email for r in rows)
    # a@ once (despite 2 matches); c@ never (unmatched, state evicted);
    # the watermark pushers are unmatched too
    assert emails == ["a@test.com"], emails


def test_streaming_content_digest_partials_equal_batch(spark, tmp_path):
    """Streaming twin of table_content_digest: the digest is a plain
    mergeable SUM of per-row terms, so per-window partial digests from
    an append-mode watermarked streaming aggregation, finalized by
    summing the partials, must equal the all-batch digest over the
    same rows BIT-IDENTICALLY (the ba7eb5c streaming-HLL pattern —
    registers there, decimal partials here)."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.warehouse import (
        _DIGEST_ROWS,
        digest_term,
    )

    rows = [
        {
            "event_id": i,
            "user_id": i % 40,
            "event_type": ["click", "view", "purchase"][i % 3],
            "ts": f"2024-01-01T{i // 300:02d}:{(i // 5) % 60:02d}:{i % 60:02d}.000Z",
        }
        for i in range(600)
    ]
    sentinel = {
        "event_id": 999999,
        "user_id": 0,
        "event_type": "click",
        "ts": "2024-01-01T12:00:00.000Z",
    }
    d = str(tmp_path / "digest_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "event_id long, user_id long, event_type string, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    partials = stream.groupBy(F.window("ts", "1 hour").alias("win")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(digest_term(_DIGEST_ROWS["events"])).alias("digest_part"),
    )
    q = (
        partials.writeStream.format("memory")
        .queryName("digest_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    parts = spark.table("digest_partials_tbl")
    final = parts.agg(
        F.sum("n_rows").alias("n_rows"), F.sum("digest_part").alias("digest")
    ).collect()[0]
    # the sentinel advanced the watermark past the data windows, which
    # closed and emitted; its OWN window stays open (append-mode
    # semantics), so the streamed digest covers exactly `rows`
    batch = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["event_type"], r["ts"]) for r in rows],
        "event_id long, user_id long, event_type string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    expected = batch.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(digest_term(_DIGEST_ROWS["events"])).alias("digest"),
    ).collect()[0]
    assert final.n_rows == expected.n_rows == 600
    assert final.digest == expected.digest
    # and the partials really were incremental: >1 window emitted
    assert parts.count() >= 2


def test_streaming_cms_cells_finalize_equals_batch(spark, tmp_path):
    """Streaming CMS: per-window sketch CELLS from a plain watermarked
    streaming aggregation (groupBy(window, i, bucket).count(), append
    mode — no custom state), finalized by cell-wise sum, must be
    BIT-IDENTICAL to the all-batch cms_build over the same rows, and
    the estimates derived from the streamed sketch must never
    under-count (the CMS guarantee survives the streaming path). The
    third member of the mergeable-sketch streaming family: HLL
    registers, digest partials, CMS cells — all plain watermarked aggs
    because the sketch IS a commutative monoid."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        DEFAULT_D,
        _bucket_expr,
        cms_build,
        cms_estimate,
    )

    rows = [
        {
            "item": f"item-{i % 37 if i % 5 else 'hot'}",
            "ts": f"2024-01-01T{i // 400:02d}:{(i // 7) % 60:02d}:{i % 60:02d}.000Z",
        }
        for i in range(800)
    ]
    sentinel = {"item": "item-0", "ts": "2024-01-01T12:00:00.000Z"}
    d = str(tmp_path / "cms_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string("item string, ts timestamp")
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    cells_stream = (
        stream.select("ts", F.col("item").cast("string").alias("x"))
        .select(
            "ts",
            "x",
            F.explode(F.array([F.lit(i) for i in range(DEFAULT_D)])).alias("i"),
        )
        .withColumn("bucket", F.expr(_bucket_expr("i", "x")))
        .groupBy(F.window("ts", "1 hour").alias("win"), "i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = (
        cells_stream.writeStream.format("memory")
        .queryName("cms_cells_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    streamed = (
        spark.table("cms_cells_tbl")
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    batch = spark.createDataFrame(
        [(r["item"],) for r in rows], "item string"
    )
    expected = cms_build(batch, "item")
    to_cells = lambda df: {(r.i, r.bucket): r.cnt for r in df.collect()}  # noqa: E731
    assert to_cells(streamed) == to_cells(expected)
    # ≥2 windows actually emitted incrementally
    assert spark.table("cms_cells_tbl").select("win").distinct().count() == 2
    # the streamed sketch estimates never under-count the true freq
    exact = batch.groupBy("item").agg(F.count(F.lit(1)).alias("exact"))
    est = cms_estimate(exact, streamed, "item")
    bad = est.filter(F.col("est_count") < F.col("exact")).count()
    assert bad == 0
    hot = est.filter(F.col("item") == "item-hot").collect()[0]
    assert hot.est_count >= hot.exact == 160


def test_streaming_hll_registers_finalize_equals_batch(spark, tmp_path):
    """Streaming portable-HLL: per-hour distinct-user sketches emitted
    as REGISTERS by a plain watermarked streaming aggregation (no
    custom state), then finalized batch-side — estimates must be
    BIT-IDENTICAL to the all-batch hll_estimate over the same rows,
    because both paths reduce to the same (window, bucket, max rho)
    registers. The production dashboard shape: the stream stores 256
    mergeable rows per window, never raw user ids."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        hll_estimate,
        hll_estimate_from_registers,
        hll_registers,
    )

    rows = []
    for h in range(2):
        for i in range(300):
            rows.append(
                {
                    "user_id": (h * 7 + i) % (120 + 80 * h),
                    "ts": f"2024-01-01T{h:02d}:{i % 60:02d}:{(i * 7) % 60:02d}.000Z",
                }
            )
    sentinel = {"user_id": 0, "ts": "2024-01-01T12:00:00.000Z"}
    d = str(tmp_path / "hll_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string("user_id long, ts timestamp")
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    regs_stream = hll_registers(
        stream, [F.window("ts", "1 hour").alias("win")], "user_id"
    ).select(F.col("win")["start"].alias("wstart"), "bucket_hex", "rho")
    q = (
        regs_stream.writeStream.format("memory")
        .queryName("hll_regs_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    regs = spark.table("hll_regs_tbl")
    streamed = {
        (r.wstart.isoformat(), r.est_distinct, r.n_registers)
        for r in hll_estimate_from_registers(regs, "wstart").collect()
    }
    batch = spark.createDataFrame(
        [(r["user_id"], r["ts"]) for r in rows], "user_id long, ts_s string"
    ).select(
        F.window(F.to_timestamp("ts_s"), "1 hour")["start"].alias("wstart"),
        "user_id",
    )
    expected = {
        (r.wstart.isoformat(), r.est_distinct, r.n_registers)
        for r in hll_estimate(batch, "wstart", "user_id").collect()
    }
    assert streamed == expected and len(streamed) == 2
    # sanity: the two hours have different cardinalities (120 vs 200)
    ests = sorted(e for _, e, _ in streamed)
    assert 90 <= ests[0] <= 150 and 150 <= ests[1] <= 260, ests


def test_interval_overlap_stream_static_matches_batch(spark, tmp_path):
    """interval_overlap_join is STATELESS (explode + equi-join +
    filter), so it runs unchanged as a stream-static join: streamed
    span intervals against the static window table emit exactly the
    batch pair set, per micro-batch, with no state store and no
    watermark required."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.joins import (
        interval_overlap_join,
    )

    spans = [
        {"lid": i, "ss": s, "se": s + ln}
        for i, (s, ln) in enumerate(
            [(0, 50), (95, 10), (100, 30), (199, 2), (360, 100), (700, 5)]
        )
    ]
    d = str(tmp_path / "span_src")
    _os.makedirs(d)
    for i, chunk in enumerate([spans[:3], spans[3:]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    wins = spark.createDataFrame(
        [(0, 40, 120), (1, 200, 260), (2, 399, 420)],
        "rid int, ws long, we long",
    )
    schema = _parse_datatype_string("lid int, ss long, se long")
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    q = (
        interval_overlap_join(stream, wins, 64, broadcast_right=True)
        .select("lid", "rid")
        .writeStream.format("memory")
        .queryName("ivl_stream_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    got = sorted(
        (r.lid, r.rid) for r in spark.table("ivl_stream_tbl").collect()
    )
    batch = spark.createDataFrame(
        [(r["lid"], r["ss"], r["se"]) for r in spans], "lid int, ss long, se long"
    )
    expected = sorted(
        (r.lid, r.rid)
        for r in interval_overlap_join(batch, wins, 64, broadcast_right=True)
        .select("lid", "rid")
        .collect()
    )
    assert got == expected
    # hand-check: span 0 [0,50) hits win 0 [40,120); span 3 [199,201)
    # hits win 1 strictly (199 < 260, 200 < 201); span 5 matches none
    assert (0, 0) in got and (3, 1) in got
    assert all(lid != 5 for lid, _ in got)


def test_streaming_auc_partials_finalize_equals_batch(spark, tmp_path):
    """Streaming twin of classifier_auc_exact: the AUC's grouped form
    (score → cnt, pos) is MERGEABLE, so per-window score-group partials
    from a plain watermarked streaming aggregation (append mode, no
    custom state), finalized by auc_from_score_groups over the sink,
    must be BIT-IDENTICAL to the all-batch exact_auc over the same rows
    (the digest/HLL/CMS twin pattern — fourth mergeable member)."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        auc_from_score_groups,
        exact_auc,
    )

    # deterministic scores with cross-label ties: score in {0..12},
    # label correlated-but-noisy so AUC is strictly inside (0.5, 1)
    rows = [
        {
            "s": float((i * i) % 13) + (3.0 if i % 3 == 0 else 0.0),
            "y": 1 if i % 3 == 0 else 0,
            "ts": f"2024-01-01T{i // 300:02d}:{(i // 5) % 60:02d}:{i % 60:02d}.000Z",
        }
        for i in range(600)
    ]
    sentinel = {"s": 0.0, "y": 0, "ts": "2024-01-01T12:00:00.000Z"}
    d = str(tmp_path / "auc_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string("s double, y int, ts timestamp")
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    partials = stream.groupBy(
        F.window("ts", "1 hour").alias("win"), F.col("s").alias("_s")
    ).agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("y").cast("bigint").alias("_pos"),
    )
    q = (
        partials.writeStream.format("memory")
        .queryName("auc_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    parts = spark.table("auc_partials_tbl")
    # sentinel's window stays open (append semantics): sink covers `rows`
    [streamed] = auc_from_score_groups(
        parts.select("_s", "_cnt", "_pos")
    ).collect()

    batch = spark.createDataFrame(
        [(r["s"], r["y"]) for r in rows], "s double, y int"
    )
    [expected] = exact_auc(batch, "s", "y").collect()

    assert streamed.n_pos == expected.n_pos == 200
    assert streamed.n_neg == expected.n_neg == 400
    assert streamed.u2 == expected.u2
    assert streamed.auc == expected.auc
    assert 0.5 < streamed.auc < 1.0
    # the partials really were incremental: same score seen in >1 window
    dup_scores = (
        parts.groupBy("_s").count().filter(F.col("count") > 1).count()
    )
    assert dup_scores >= 1


def test_streaming_grouped_split_matches_batch(spark, runner):
    """Split-at-ingest: grouped_split is a pure narrow function of the
    group key, so it runs unmodified on a stream (append mode, NO
    state, no watermark) and every streamed row gets the EXACT label
    the batch path assigns — the property that lets a 100 TB backfill
    and the live ingest share one split definition."""
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sampling import (
        grouped_split,
    )

    rows = [{"doc_id": i, "grp": i % 7} for i in range(50)]
    schema = _parse_datatype_string("doc_id bigint, grp bigint")
    fr = [("train", 0.9), ("valid", 0.05), ("test", 0.05)]

    stream = stream_from_rows(spark, rows, schema)
    q = runner.add(
        "gsplit", to_memory(grouped_split(stream, fr, "grp"), "gsplit_out")
    )
    q.awaitTermination()
    streamed = {
        (r.doc_id, r.split)
        for r in spark.sql("SELECT doc_id, split FROM gsplit_out").collect()
    }
    batch = spark.createDataFrame(
        [(r["doc_id"], r["grp"]) for r in rows], schema
    )
    expected = {
        (r.doc_id, r.split)
        for r in grouped_split(batch, fr, "grp").select("doc_id", "split").collect()
    }
    assert streamed == expected and len(streamed) == 50


def test_streaming_basket_rules_partials_equal_batch(spark, tmp_path):
    """Streaming twin of association_rules_copurchase: with baskets
    arriving COMPLETE (one array row per transaction — pair generation
    is stateless per row), pair counts, item counts, and the basket
    total are all plain mergeable sums, so per-window partials from
    watermarked streaming aggregations, finalized batch over the sinks,
    give BIT-IDENTICAL support/confidence/lift to the all-batch
    computation (fifth member of the digest/HLL/CMS/AUC twin family)."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    # deterministic baskets over 6 items; co-occurrence structure
    rows = [
        {
            "order_id": i,
            "items": sorted({1 + (i % 5), 1 + ((i * i) % 6), 1 + ((i * 7) % 4)}),
            "ts": f"2024-01-01T{i // 60:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(240)
    ]
    # two late sentinels: the FIRST advances the watermark past every
    # data window; the SECOND arrives as a real data batch so the
    # closed windows flush deterministically (the no-data flush batch
    # can race processAllAvailable). They must flow through the plan
    # un-filtered — a pre-aggregation filter gets pushed below the
    # EventTimeWatermark collection and the watermark never advances —
    # so they are excluded by WINDOW at finalize time instead.
    # two-item sentinels: the size >= 2 pre-aggregation filter is ALSO
    # pushed below the watermark collection, so a 1-item sentinel never
    # advances the pairs query's watermark. Their own (8, 9) pair lands
    # in the >= 12:00 windows the finalize cutoff excludes.
    sent1 = {"order_id": -1, "items": [8, 9], "ts": "2024-01-01T12:00:00.000Z"}
    sent2 = {"order_id": -2, "items": [8, 9], "ts": "2024-01-01T13:00:00.000Z"}
    d = str(tmp_path / "basket_src")
    _os.makedirs(d)
    for i, chunk in enumerate([rows[:120], rows[120:], [sent1], [sent2]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "order_id bigint, items array<bigint>, ts timestamp"
    )

    pair_expr = (
        "transform(flatten(transform(sequence(1, size(items) - 1),"
        " i -> transform(sequence(i + 1, size(items)),"
        " j -> struct(items[i - 1] AS pa, items[j - 1] AS pb)))), p -> p)"
    )

    def start(df, name):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    win = F.window("ts", "1 hour").alias("win")
    start(
        stream.filter(F.size("items") >= 2)
        .select(win, F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("win", F.col("p.pa"), F.col("p.pb"))
        .agg(F.count(F.lit(1)).alias("n")),
        "rules_pairs_tbl",
    )
    start(
        stream.select(win, F.explode("items").alias("item"))
        .groupBy("win", "item")
        .agg(F.count(F.lit(1)).alias("n")),
        "rules_items_tbl",
    )
    start(
        stream.groupBy(win).agg(F.count(F.lit(1)).alias("n")),
        "rules_total_tbl",
    )

    def finalize(pairs, items, total):
        j = (
            pairs.groupBy("pa", "pb").agg(F.sum("n").alias("n_ab"))
            .join(
                items.groupBy(F.col("item").alias("pa")).agg(
                    F.sum("n").alias("n_a")
                ),
                "pa",
            )
            .join(
                items.groupBy(F.col("item").alias("pb")).agg(
                    F.sum("n").alias("n_b")
                ),
                "pb",
            )
            .crossJoin(
                F.broadcast(total.agg(F.sum("n").alias("n_orders")))
            )
        )
        return {
            (r.pa, r.pb): (r.n_ab, repr(r.support), repr(r.lift))
            for r in j.selectExpr(
                "pa", "pb", "CAST(n_ab AS BIGINT) AS n_ab",
                "CAST(n_ab AS DOUBLE) / n_orders AS support",
                "CAST(n_ab AS DOUBLE) / n_a / n_b * n_orders AS lift",
            ).collect()
        }

    cutoff = "win.start < timestamp '2024-01-01 12:00:00'"
    streamed = finalize(
        spark.table("rules_pairs_tbl").filter(cutoff),
        spark.table("rules_items_tbl").filter(cutoff),
        spark.table("rules_total_tbl").filter(cutoff),
    )

    # batch over the SAME basket rows (sentinels are filtered out and
    # their windows never emit, so the sinks cover exactly `rows`)
    batch = spark.createDataFrame(
        [(r["order_id"], r["items"]) for r in rows],
        "order_id bigint, items array<bigint>",
    )
    bpairs = (
        batch.filter(F.size("items") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bitems = batch.select(F.explode("items").alias("item")).groupBy(
        "item"
    ).agg(F.count(F.lit(1)).alias("n"))
    btotal = batch.agg(F.count(F.lit(1)).alias("n"))
    expected = finalize(bpairs, bitems, btotal)
    assert streamed == expected and len(streamed) > 5


def test_streaming_chi_square_cells_finalize_equals_batch(spark, tmp_path):
    """Streaming twin of chi_square_independence: the contingency
    CELLS are plain mergeable counts, so per-window (type, dow) cell
    counts from an append-mode watermarked aggregation, finalized by
    summing cells and assembling the statistic in batch, must equal
    the all-batch chi-square over the same rows — cells exactly
    (integers), chi2/Cramér's V at round-6 (the digest/HLL partials
    pattern applied to a drift monitor: ship windowed cells, alarm on
    the finalized statistic)."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string
    from pyspark.sql.window import Window

    rows = [
        {
            "event_id": i,
            "event_type": ["click", "view", "purchase", "error"][i % 4],
            # spread across 3 calendar days -> >1 dow level
            "ts": f"2024-01-{1 + i % 3:02d}T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(600)
    ]
    sentinel = {
        "event_id": 999999,
        "event_type": "click",
        "ts": "2024-01-05T00:00:00.000Z",
    }
    d = str(tmp_path / "chi_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "event_id long, event_type string, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    partials = stream.groupBy(
        F.window("ts", "6 hours").alias("win"),
        F.col("event_type"),
        F.dayofweek("ts").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    q = (
        partials.writeStream.format("memory")
        .queryName("chi_cells_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def chi2_of(cells):
        m = (
            cells.withColumn(
                "row_tot", F.sum("n").over(Window.partitionBy("event_type"))
            )
            .withColumn("col_tot", F.sum("n").over(Window.partitionBy("dow")))
            .withColumn(
                "big_n", F.sum("n").over(Window.partitionBy(F.lit(1)))
            )
        )
        exp = (
            F.col("row_tot").cast("double") * F.col("col_tot") / F.col("big_n")
        )
        term = (F.col("n") - exp) * (F.col("n") - exp) / exp
        return m.agg(F.round(F.sum(term), 6).alias("chi2")).collect()[0].chi2

    # finalize: merge windowed cells (the sentinel's window never
    # closed, so streamed cells cover exactly `rows`)
    streamed_cells = (
        spark.table("chi_cells_tbl")
        .groupBy("event_type", "dow")
        .agg(F.sum("n").alias("n"))
    )
    batch = spark.createDataFrame(
        [(r["event_id"], r["event_type"], r["ts"]) for r in rows],
        "event_id long, event_type string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    batch_cells = batch.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("n"))

    sc = {(r.event_type, r.dow): r.n for r in streamed_cells.collect()}
    bc = {(r.event_type, r.dow): r.n for r in batch_cells.collect()}
    assert sc == bc and sum(sc.values()) == 600
    assert len({k[1] for k in sc}) >= 2  # >1 dow level: chi2 nontrivial
    assert chi2_of(streamed_cells) == chi2_of(batch_cells)
    # and the cells really were incremental: >1 window emitted
    assert spark.table("chi_cells_tbl").select("win").distinct().count() >= 2


def test_streaming_bitmap_words_finalize_equals_batch(spark, tmp_path):
    """Streaming twin of bitmap_intersect_users: bit_or words are the
    textbook mergeable aggregate, so per-window (type, word) bitmap
    partials from an append-mode watermarked aggregation, finalized by
    bit_or across windows, must equal the all-batch bitmaps (and hence
    every popcount intersection) BIT-IDENTICALLY — the 7th member of
    the mergeable-twin family (digest, CMS, HLL, AUC, rules, chi2)."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    rows = [
        {
            "event_id": i,
            "user_id": (i * 7) % 97,
            "event_type": ["click", "view", "purchase"][i % 3],
            "ts": f"2024-01-01T{(i // 120) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(600)
    ]
    sentinel = {
        "event_id": 999999,
        "user_id": 0,
        "event_type": "click",
        "ts": "2024-01-02T12:00:00.000Z",
    }
    d = str(tmp_path / "bitmap_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "event_id long, user_id long, event_type string, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    partials = stream.groupBy(
        F.window("ts", "1 hour").alias("win"),
        F.col("event_type"),
        F.expr("user_id div 32").alias("w"),
    ).agg(
        F.expr("bit_or(shiftleft(1L, CAST(user_id % 32 AS INT)))").alias(
            "bits"
        )
    )
    q = (
        partials.writeStream.format("memory")
        .queryName("bitmap_words_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    streamed = (
        spark.table("bitmap_words_tbl")
        .groupBy("event_type", "w")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    batch = spark.createDataFrame(
        [(r["event_id"], r["user_id"], r["event_type"], r["ts"]) for r in rows],
        "event_id long, user_id long, event_type string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    expected = batch.groupBy(
        "event_type", F.expr("user_id div 32").alias("w")
    ).agg(
        F.expr("bit_or(shiftleft(1L, CAST(user_id % 32 AS INT)))").alias(
            "bits"
        )
    )
    sm = {(r.event_type, r.w): r.bits for r in streamed.collect()}
    bm = {(r.event_type, r.w): r.bits for r in expected.collect()}
    assert sm == bm and len(sm) > 0
    # intersections derived from the streamed words are therefore exact
    assert spark.table("bitmap_words_tbl").select("win").distinct().count() >= 2


def test_streaming_ewma_matches_batch(spark, tmp_path):
    """The streaming EWMA tracker (one (n, s) scalar pair of state per
    user) replayed over the REAL sf0.001 events table in per-user
    event-time order produces BIT-IDENTICAL final values to the batch
    `ewma_user_value` fold: every step is s/2 + v/2 (exact shifts + one
    IEEE add) and the replay preserves fold order, so repr-equality on
    every double is required, not approximate closeness."""
    import json as _json
    import os as _os
    import time as _t

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        load_table,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        ewma_tracker,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    sf = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
            "value",
        )
        .orderBy("us", "event_id")
        .collect()
    )
    assert len(rows) > 100
    # 4 micro-batches split on the GLOBAL (us, event_id) order: each
    # user's subsequence arrives in event-time order across batches.
    n_batches, src = 4, str(tmp_path / "ewma_src")
    ckpt = str(tmp_path / "ewma_ckpt")
    _os.makedirs(src)
    per = (len(rows) + n_batches - 1) // n_batches
    for b in range(n_batches):
        with open(f"{src}/f{b}.json", "w") as f:
            for r in rows[b * per : (b + 1) * per]:
                f.write(
                    _json.dumps(
                        {
                            "user_id": r["user_id"],
                            "us": r["us"],
                            "event_id": r["event_id"],
                            "value": r["value"],
                        }
                    )
                    + "\n"
                )
        _os.utime(f"{src}/f{b}.json", (1700000000 + b, 1700000000 + b))
        _t.sleep(0.01)

    schema = _parse_datatype_string(
        "user_id bigint, us bigint, event_id bigint, value double"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        ewma_tracker(stream)
        .writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # latest emission per user = final state
    streamed = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in spark.sql(
            """
            SELECT user_id, n_events, ewma FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY n_events DESC) rn
              FROM ewma_stream) WHERE rn = 1
            """
        ).collect()
    }
    batch = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in REGISTRY["ewma_user_value"][0](spark, sf).collect()
    }
    assert set(streamed) == set(batch)
    # exact reference fold in Python (IEEE doubles, same order):
    # streamed UNROUNDED values must be bit-identical to it
    ref: dict = {}
    refn: dict = {}
    for r in rows:
        u = r["user_id"]
        ref[u] = ref.get(u, 0.0) / 2.0 + r["value"] / 2.0
        refn[u] = refn.get(u, 0) + 1
    assert set(streamed) == set(ref)
    for u, (n_s, e_s) in streamed.items():
        assert n_s == refn[u] == batch[u][0], f"user {u}: n {n_s}"
        assert repr(e_s) == repr(ref[u]), f"user {u}: {e_s!r} != {ref[u]!r}"


def test_streaming_debounce_matches_batch(spark, tmp_path):
    """The streaming debounce tracker (three integers of state per
    user) replayed over the real sf0.001 events table in per-user
    event-time order produces EXACTLY the batch
    `debounce_rate_limit` counts — integer compares only, so equality
    is exact by construction if the keep-set recurrence is implemented
    identically."""
    import json as _json
    import os as _os
    import time as _t

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.queries import (
        REGISTRY,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        load_table,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        debounce_tracker,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    sf = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf, "events")
        .select("user_id", F.unix_micros("ts").alias("us"), "event_id")
        .orderBy("us", "event_id")
        .collect()
    )
    n_batches, src = 4, str(tmp_path / "db_src")
    ckpt = str(tmp_path / "db_ckpt")
    _os.makedirs(src)
    per = (len(rows) + n_batches - 1) // n_batches
    for b in range(n_batches):
        with open(f"{src}/f{b}.json", "w") as f:
            for r in rows[b * per : (b + 1) * per]:
                f.write(
                    _json.dumps(
                        {
                            "user_id": r["user_id"],
                            "us": r["us"],
                            "event_id": r["event_id"],
                        }
                    )
                    + "\n"
                )
        _os.utime(f"{src}/f{b}.json", (1700000000 + b, 1700000000 + b))
        _t.sleep(0.01)

    schema = _parse_datatype_string("user_id bigint, us bigint, event_id bigint")
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    q = (
        debounce_tracker(stream)
        .writeStream.format("memory")
        .queryName("debounce_stream")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    streamed = {
        r["user_id"]: (r["n_events"], r["n_kept"])
        for r in spark.sql(
            """
            SELECT user_id, n_events, n_kept FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY n_events DESC) rn
              FROM debounce_stream) WHERE rn = 1
            """
        ).collect()
    }
    batch = {
        r["user_id"]: (r["n_events"], r["n_kept"])
        for r in REGISTRY["debounce_rate_limit"][0](spark, sf).collect()
    }
    assert streamed == batch


def test_additive_merge_mv_equals_batch_recompute(spark, tmp_path):
    """foreachBatch additive MV maintenance: raw sf0.001 events stream
    through in 4 micro-batches, each batch's (type, day) delta merging
    by ADDITION into a parquet MV — the final table must EXACTLY equal
    a batch recompute over all rows (counts and fixed-point value sums
    are associative BIGINTs, so equality is exact, not approximate)."""
    import os as _os
    import time as _t

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
        load_table,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.sinks import (
        additive_merge_parquet,
    )
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    sf = "/root/testdata/sf0.001"
    base = load_table(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.floor(F.col("value") * F.lit(1048576.0)).cast("bigint").alias("vfix"),
    )
    rows = base.orderBy("event_id").collect()
    src = str(tmp_path / "mv_src")
    mv = str(tmp_path / "mv_table")
    ckpt = str(tmp_path / "mv_ckpt")
    _os.makedirs(src)
    n_batches = 4
    per = (len(rows) + n_batches - 1) // n_batches
    schema = _parse_datatype_string(
        "event_id bigint, event_type string, day date, vfix bigint"
    )
    for b in range(n_batches):
        chunk = spark.createDataFrame(rows[b * per : (b + 1) * per], schema)
        chunk.coalesce(1).write.mode("overwrite").parquet(f"{src}/b{b}")
        # one file per trigger: move the part file into the stream dir
        part = [
            f for f in _os.listdir(f"{src}/b{b}") if f.endswith(".parquet")
        ][0]
        _os.rename(f"{src}/b{b}/{part}", f"{src}/f{b}.parquet")
        _os.utime(f"{src}/f{b}.parquet", (1700000000 + b, 1700000000 + b))
        _t.sleep(0.01)

    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .withColumn("cnt", F.lit(1).cast("bigint"))
    )
    q = additive_merge_parquet(
        stream,
        mv,
        key_cols=("event_type", "day"),
        add_cols=("cnt", "vfix"),
        checkpoint_dir=ckpt,
    )
    q.awaitTermination()

    got = {
        (r["event_type"], str(r["day"])): (r["cnt"], r["vfix"])
        for r in spark.read.parquet(mv).collect()
    }
    want = {
        (r["event_type"], str(r["day"])): (r["cnt"], r["vfix"])
        for r in base.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("vfix").alias("vfix")
        )
        .collect()
    }
    assert got == want

    # replay idempotency: wipe the CHECKPOINT (not the table) and run
    # the whole stream again — every micro-batch replays with an epoch
    # id ≤ the _last_epoch recorded in the target, so each is skipped
    # and nothing double-adds (the "overwrite committed, checkpoint
    # didn't" crash window)
    import shutil as _sh

    _sh.rmtree(ckpt)
    q2 = additive_merge_parquet(
        stream,
        mv,
        key_cols=("event_type", "day"),
        add_cols=("cnt", "vfix"),
        checkpoint_dir=ckpt,
    )
    q2.awaitTermination()
    got2 = {
        (r["event_type"], str(r["day"])): (r["cnt"], r["vfix"])
        for r in spark.read.parquet(mv).collect()
    }
    assert got2 == want, "replayed batches double-added"
    # the published table is a symlink to a complete version dir
    assert _os.path.islink(mv)


def test_watermarked_full_outer_stream_join_emits_both_sides(spark, tmp_path):
    """FULL-OUTER stream-stream join — the last row of the join-mode
    matrix (inner / left-outer / left-semi are tested above): matched
    pairs emit joined; unmatched LEFT rows emit with NULL right
    columns and unmatched RIGHT rows emit with NULL left columns, each
    only after the watermark closes their window."""
    import json as _json
    import os as _os

    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.joins import (
        watermarked_stream_join,
    )

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    _os.makedirs(ldir), _os.makedirs(rdir)
    lrows1 = [
        {"email": "a@test.com", "cts": "2024-01-01T00:00:00.000Z"},
        {"email": "c@test.com", "cts": "2024-01-01T00:01:00.000Z"},
    ]
    rrows1 = [
        {"customer": "a@test.com", "score": "5.0", "ets": "2024-01-01T00:04:00.000Z"},
        {"customer": "x@test.com", "score": "7.0", "ets": "2024-01-01T00:05:00.000Z"},
    ]
    # far-future watermark pushers on BOTH sides so every first-batch
    # window closes and outer rows emit
    lrows2 = [{"email": "z@test.com", "cts": "2024-01-01T03:00:00.000Z"}]
    rrows2 = [
        {"customer": "zz@test.com", "score": "0.0", "ets": "2024-01-01T03:00:00.000Z"}
    ]
    for d, batches in ((ldir, (lrows1, lrows2)), (rdir, (rrows1, rrows2))):
        for i, rows in enumerate(batches):
            with open(f"{d}/f{i}.json", "w") as f:
                for r in rows:
                    f.write(_json.dumps(r) + "\n")
            _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    lschema = _parse_datatype_string("email string, cts timestamp")
    rschema = _parse_datatype_string("customer string, score string, ets timestamp")
    left = (
        spark.readStream.format("json").schema(lschema)
        .option("maxFilesPerTrigger", "1").load(ldir)
    )
    right = (
        spark.readStream.format("json").schema(rschema)
        .option("maxFilesPerTrigger", "1").load(rdir)
    )
    joined = watermarked_stream_join(
        left,
        right,
        "email = customer",
        "cts",
        "ets",
        watermark="10 minutes",
        range_cond="ets BETWEEN cts AND cts + INTERVAL 10 MINUTES",
        how="full_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("fo_join_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.email, r.customer)
        for r in spark.sql("SELECT email, customer FROM fo_join_tbl").collect()
    }
    # matched pair; unmatched left with NULL right; unmatched right
    # with NULL left — all from batch 1 (batch-2 pushers may still sit
    # in open windows, so only assert the CLOSED-window rows)
    assert ("a@test.com", "a@test.com") in got
    assert ("c@test.com", None) in got
    assert (None, "x@test.com") in got


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates arriving within the
    watermark delay collapse to one row even when their EVENT TIMES
    differ (the at-least-once-ingest dedup built-in that plain
    dropDuplicates-on-(key,ts) cannot express); state for a key is
    dropped once the watermark passes, bounding the dedup memory."""
    import json as _json
    import os as _os

    from pyspark.sql.types import _parse_datatype_string

    src = str(tmp_path / "ddw_src")
    _os.makedirs(src)
    b1 = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00.000Z", "v": 1.0},
        # same id, LATER event time (retry with re-stamped timestamp)
        {"event_id": 1, "ts": "2024-01-01T00:03:00.000Z", "v": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00.000Z", "v": 2.0},
    ]
    b2 = [
        # same id again within the delay window in the NEXT batch
        {"event_id": 2, "ts": "2024-01-01T00:05:00.000Z", "v": 2.0},
        {"event_id": 3, "ts": "2024-01-01T02:00:00.000Z", "v": 3.0},
    ]
    for i, rows in enumerate((b1, b2)):
        with open(f"{src}/f{i}.json", "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{src}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string("event_id bigint, ts timestamp, v double")
    stream = (
        spark.readStream.format("json").schema(schema)
        .option("maxFilesPerTrigger", "1").load(src)
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("ddw_tbl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(r.event_id for r in spark.sql("SELECT * FROM ddw_tbl").collect())
    assert ids == [1, 2, 3], ids


def _mk_stream_files(spark, rows, schema, src, start_idx=0):
    """One parquet file per micro-batch chunk under src (the
    maxFilesPerTrigger=1 replay recipe from the additive-merge test)."""
    import os as _os
    import time as _t

    for i, chunk in enumerate(rows):
        b = start_idx + i
        df = spark.createDataFrame(chunk, schema)
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/b{b}")
        part = [
            f for f in _os.listdir(f"{src}/b{b}") if f.endswith(".parquet")
        ][0]
        _os.rename(f"{src}/b{b}/{part}", f"{src}/f{b}.parquet")
        _os.utime(f"{src}/f{b}.parquet", (1700000000 + b, 1700000000 + b))
        _t.sleep(0.01)


def test_additive_merge_new_lineage_epoch0_merges(spark, tmp_path):
    """r8 ADVICE fix: foreachBatch epoch ids are unique only per
    checkpoint lineage. A brand-NEW query (fresh checkpoint dir)
    against an existing table restarts at epoch 0; the old bare
    `epoch <= last` skip silently DROPPED its early batches. The fix
    keys the skip on (lineage, epoch): same-lineage replays still
    skip, a different lineage's epoch-0 batch must MERGE."""
    import os as _os

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.sinks import (
        additive_merge_parquet,
    )

    schema = "k string, v bigint"
    mv = str(tmp_path / "mv")
    src1 = str(tmp_path / "src1")
    src2 = str(tmp_path / "src2")
    _os.makedirs(src1), _os.makedirs(src2)

    # query 1: two micro-batches (epochs 0, 1) -> a=3, b=5
    _mk_stream_files(spark, [[("a", 1), ("b", 5)], [("a", 2)]], schema, src1)
    s1 = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "1").load(src1)
    )
    q1 = additive_merge_parquet(
        s1, mv, key_cols=("k",), add_cols=("v",),
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    q1.awaitTermination()
    got1 = {r.k: r.v for r in spark.read.parquet(mv).collect()}
    assert got1 == {"a": 3, "b": 5}

    # query 2: DIFFERENT checkpoint, epochs restart at 0 with NEW data.
    # Under the old bare-epoch skip both batches (epochs 0,1 <= last=1)
    # were dropped; with lineage keying they must merge.
    _mk_stream_files(spark, [[("a", 10)], [("c", 7)]], schema, src2)
    s2 = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "1").load(src2)
    )
    q2 = additive_merge_parquet(
        s2, mv, key_cols=("k",), add_cols=("v",),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination()
    got2 = {r.k: r.v for r in spark.read.parquet(mv).collect()}
    assert got2 == {"a": 13, "b": 5, "c": 7}, (
        "new-lineage epoch-0/1 batches were dropped as replays"
    )

    # and same-lineage replay STILL skips: wipe ckpt2, rerun src2
    import shutil as _sh

    _sh.rmtree(str(tmp_path / "ckpt2"))
    q3 = additive_merge_parquet(
        s2, mv, key_cols=("k",), add_cols=("v",),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    q3.awaitTermination()
    got3 = {r.k: r.v for r in spark.read.parquet(mv).collect()}
    assert got3 == got2, "same-lineage replay double-added"


def test_additive_merge_crash_between_write_and_publish(spark, tmp_path):
    """r8 (VERDICT r7 #8): crash window BETWEEN the versioned-dir write
    and the symlink publish. Simulated by planting a fully-written but
    never-published orphan version dir (with a poisoned _last_epoch
    that, were it read, would wrongly skip the replay). The table path
    must keep resolving to the previous COMPLETE version, and the next
    run of that epoch must rebuild the orphan and publish it."""
    import os as _os
    import shutil as _sh

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.sinks import (
        additive_merge_parquet,
    )

    schema = "k string, v bigint"
    mv = str(tmp_path / "mv")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(src)

    # epoch 0 publishes normally
    _mk_stream_files(spark, [[("a", 1)]], schema, src)
    s = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "1").load(src)
    )
    additive_merge_parquet(
        s, mv, key_cols=("k",), add_cols=("v",), checkpoint_dir=ckpt
    ).awaitTermination()
    v0 = _os.path.realpath(mv)
    assert {r.k: r.v for r in spark.read.parquet(mv).collect()} == {"a": 1}

    # simulate the crash: epoch 1's version dir was fully written
    # (data + _last_epoch) but the symlink rename never happened.
    # r9: version dirs are named .v{md5(lineage)[:8]}_{epoch}
    import hashlib as _hl

    lineage = _os.path.abspath(ckpt)
    tag = _hl.md5(lineage.encode()).hexdigest()[:8]
    orphan = f"{mv}.v{tag}_1"
    spark.createDataFrame([("zzz", 999)], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(orphan)
    with open(f"{orphan}/_last_epoch", "w") as fh:
        fh.write(f"{lineage}\t1")

    # the table still resolves to the previous complete version
    assert _os.path.realpath(mv) == v0
    assert {r.k: r.v for r in spark.read.parquet(mv).collect()} == {"a": 1}

    # replay epoch 1 for real: orphan must be reconciled (rebuilt from
    # the live table + batch, NOT trusted), then published
    _mk_stream_files(spark, [[("b", 2)]], schema, src, start_idx=1)
    additive_merge_parquet(
        s, mv, key_cols=("k",), add_cols=("v",), checkpoint_dir=ckpt
    ).awaitTermination()
    got = {r.k: r.v for r in spark.read.parquet(mv).collect()}
    assert got == {"a": 1, "b": 2}, "orphan version dir was not rebuilt"
    assert _os.path.realpath(mv) == _os.path.abspath(orphan)
    assert not _os.path.exists(v0), "superseded version not cleaned up"
    _sh.rmtree(_os.path.realpath(mv), ignore_errors=True)


def test_additive_merge_new_lineage_never_clobbers_live_version(
    spark, tmp_path
):
    """r9 ADVICE(high): version dirs used to be named by epoch alone
    (`{path}.v{epoch}`), so when the live version was `.v0` (previous
    lineage ran exactly one micro-batch) and a NEW lineage started at
    epoch 0, the build-dir cleanup rmtree'd the LIVE version before the
    lazy read of it executed — merge failed mid-write and the table was
    destroyed. Dirs are now (lineage-hash, epoch)-unique; this pins the
    exact single-batch-then-new-lineage sequence."""
    import hashlib as _hl
    import os as _os

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.sinks import (
        additive_merge_parquet,
    )

    schema = "k string, v bigint"
    mv = str(tmp_path / "mv")
    src1, src2 = str(tmp_path / "src1"), str(tmp_path / "src2")
    _os.makedirs(src1), _os.makedirs(src2)

    # lineage A: EXACTLY one micro-batch -> live version is A's epoch 0
    _mk_stream_files(spark, [[("a", 1), ("b", 5)]], schema, src1)
    s1 = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "10").load(src1)
    )
    additive_merge_parquet(
        s1, mv, key_cols=("k",), add_cols=("v",),
        checkpoint_dir=str(tmp_path / "ckptA"),
    ).awaitTermination()
    tag_a = _hl.md5(
        _os.path.abspath(str(tmp_path / "ckptA")).encode()
    ).hexdigest()[:8]
    assert _os.path.realpath(mv) == _os.path.abspath(f"{mv}.v{tag_a}_0")

    # lineage B: fresh checkpoint, its first batch is ALSO epoch 0 —
    # must build in its own version dir and merge, never touching A's
    _mk_stream_files(spark, [[("a", 10), ("c", 7)]], schema, src2)
    s2 = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "10").load(src2)
    )
    additive_merge_parquet(
        s2, mv, key_cols=("k",), add_cols=("v",),
        checkpoint_dir=str(tmp_path / "ckptB"),
    ).awaitTermination()
    got = {r.k: r.v for r in spark.read.parquet(mv).collect()}
    assert got == {"a": 11, "b": 5, "c": 7}, (
        "new lineage's epoch-0 merge clobbered or lost the live version"
    )


def test_additive_merge_epoch_map_survives_interleaved_lineages(
    spark, tmp_path
):
    """r9 ADVICE(medium): `_last_epoch` used to record only the single
    most-recent (lineage, epoch) pair, so the replay-idempotence
    guarantee narrowed to the LAST writer: A commits a batch (overwrite
    done, checkpoint ack lost), B merges (overwriting the record with
    B's), A restarts and replays — A's batch was double-added. The
    record is now a per-lineage MAP carried forward into every version."""
    import os as _os
    import shutil as _sh

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.sinks import (
        additive_merge_parquet,
    )

    schema = "k string, v bigint"
    mv = str(tmp_path / "mv")
    src_a, src_b = str(tmp_path / "srcA"), str(tmp_path / "srcB")
    ckpt_a = str(tmp_path / "ckptA")
    _os.makedirs(src_a), _os.makedirs(src_b)

    # lineage A applies epoch 0 (committed into the target)
    _mk_stream_files(spark, [[("a", 1)]], schema, src_a)
    s_a = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "10").load(src_a)
    )
    additive_merge_parquet(
        s_a, mv, key_cols=("k",), add_cols=("v",), checkpoint_dir=ckpt_a
    ).awaitTermination()

    # lineage B merges next — its version must CARRY A's epoch record
    _mk_stream_files(spark, [[("b", 2)]], schema, src_b)
    s_b = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "10").load(src_b)
    )
    additive_merge_parquet(
        s_b, mv, key_cols=("k",), add_cols=("v",),
        checkpoint_dir=str(tmp_path / "ckptB"),
    ).awaitTermination()

    # A "crashed before the checkpoint ack": wipe A's checkpoint so the
    # restarted query replays its epoch 0 against the B-written version
    _sh.rmtree(ckpt_a)
    additive_merge_parquet(
        s_a, mv, key_cols=("k",), add_cols=("v",), checkpoint_dir=ckpt_a
    ).awaitTermination()
    got = {r.k: r.v for r in spark.read.parquet(mv).collect()}
    assert got == {"a": 1, "b": 2}, (
        "lineage A's replay was double-added after B overwrote the record"
    )


def test_additive_merge_rejects_uri_scheme_path():
    """The publish step is os.symlink/os.rename — local FS only. A
    URI-schemed table path must fail fast, not mid-publish."""
    import pytest as _pytest

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.sinks import (
        additive_merge_parquet,
    )

    with _pytest.raises(ValueError, match="local filesystem"):
        additive_merge_parquet(
            None, "hdfs://nn/warehouse/mv", key_cols=("k",), add_cols=("v",)
        )


def test_streaming_mannwhitney_partials_finalize_equals_batch(spark, tmp_path):
    """Streaming twin of mannwhitney_u_click_view (r8, the 8th member
    of the mergeable-twin family: digest, CMS, HLL, AUC, rules, chi2,
    bitmap). The rank-sum needs only per-distinct-value counts
    (t, n1v) — plain mergeable SUMS — so per-window (value, t, n1v)
    partials from an append-mode watermarked aggregation, merged by
    value and finalized with the SAME exact-integer below-count +
    z assembly as the batch query, must equal the all-batch statistic
    BIT-IDENTICALLY: the merged (t, n1v) cells are exact integers and
    the final expression tree is shared, so u1/z repr-match, not just
    approx-match."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.ranking import (
        global_running_sum,
    )

    # two arms with overlapping, tie-heavy values (value domain of 12
    # levels over 600 rows -> every level is a tie group)
    rows = [
        {
            "event_id": i,
            "event_type": "click" if i % 3 == 0 else "view",
            "value": float((i * 7) % 12) / 2.0,
            "ts": f"2024-01-01T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(600)
    ]
    sentinel = {
        "event_id": 999999,
        "event_type": "view",
        "value": 1.0,
        "ts": "2024-01-05T00:00:00.000Z",
    }
    d = str(tmp_path / "mwu_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "event_id long, event_type string, value double, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    arm = F.when(F.col("event_type") == "click", 1).otherwise(0)
    partials = stream.groupBy(
        F.window("ts", "6 hours").alias("win"), F.col("value")
    ).agg(F.count(F.lit(1)).alias("t"), F.sum(arm).alias("n1v"))
    q = (
        partials.writeStream.format("memory")
        .queryName("mwu_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(g):
        """(value, t, n1v) -> one (n1, n2, u1, z) row: the exact
        arithmetic of plans/analytics.py q_mannwhitney_u_click_view."""
        c = global_running_sum(g, ["value"], "t", "cum").withColumn(
            "nb", F.col("cum") - F.col("t")
        )
        td = F.col("t").cast("decimal(12,0)")
        s = c.agg(
            F.sum("n1v").alias("n1"),
            F.sum(F.col("t") - F.col("n1v")).alias("n2"),
            F.sum(
                F.col("n1v").cast("decimal(12,0)")
                * (2 * F.col("nb") + F.col("t") + 1).cast("decimal(15,0)")
            ).cast("double").alias("r1x2"),
            F.sum(td * td * td - F.col("t")).cast("double").alias("ties"),
        )
        n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
        nd = (F.col("n1") + F.col("n2")).cast("double")
        u1 = (F.col("r1x2") - n1d * (n1d + F.lit(1.0))) / F.lit(2.0)
        var = n1d * n2d / F.lit(12.0) * (
            (nd + F.lit(1.0)) - F.col("ties") / (nd * (nd - F.lit(1.0)))
        )
        z = (u1 - n1d * n2d / F.lit(2.0)) / F.sqrt(var)
        r = s.select("n1", "n2", u1.alias("u1"), z.alias("z")).collect()[0]
        return (r.n1, r.n2, repr(r.u1), repr(r.z))

    # finalize: merge windowed partials by value (sentinel's window
    # never closed -> streamed partials cover exactly `rows`)
    streamed = (
        spark.table("mwu_partials_tbl")
        .groupBy("value")
        .agg(F.sum("t").alias("t"), F.sum("n1v").alias("n1v"))
    )
    batch = spark.createDataFrame(
        [(r["event_type"], r["value"]) for r in rows],
        "event_type string, value double",
    )
    batch_g = batch.groupBy("value").agg(
        F.count(F.lit(1)).alias("t"), F.sum(arm).alias("n1v")
    )
    # merged cells identical as exact integers
    sc = {(r.value): (r.t, r.n1v) for r in streamed.collect()}
    bc = {(r.value): (r.t, r.n1v) for r in batch_g.collect()}
    assert sc == bc and sum(t for t, _ in sc.values()) == 600
    assert any(t >= 2 for t, _ in sc.values())  # ties present
    # and the finalized statistic is bit-identical
    assert finalize(streamed) == finalize(batch_g)
    # the partials really were incremental: >1 window emitted
    assert (
        spark.table("mwu_partials_tbl").select("win").distinct().count() >= 2
    )


def test_additive_merge_legacy_dir_conversion_crash(spark, tmp_path):
    """The OTHER publish crash window (r8): a legacy plain-directory
    table is converted by rename(dir -> .v_legacy) + symlink publish;
    a crash BETWEEN the two renames leaves no table path at all. The
    recovery preamble must re-link the .v_legacy dir on the next batch
    and then merge on top of the preserved contents."""
    import os as _os

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.sinks import (
        additive_merge_parquet,
    )

    schema = "k string, v bigint"
    mv = str(tmp_path / "mv")
    src = str(tmp_path / "src")
    _os.makedirs(src)

    # legacy world: a PLAIN directory table (pre-versioning layout),
    # mid-conversion crash simulated by it sitting at .v_legacy with
    # no symlink at the table path
    spark.createDataFrame([("a", 5)], schema).coalesce(1).write.parquet(
        f"{mv}.v_legacy"
    )
    assert not _os.path.lexists(mv)

    _mk_stream_files(spark, [[("a", 1), ("b", 2)]], schema, src)
    s = (
        spark.readStream.format("parquet").schema(schema)
        .option("maxFilesPerTrigger", "1").load(src)
    )
    additive_merge_parquet(
        s, mv, key_cols=("k",), add_cols=("v",),
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).awaitTermination()
    got = {r.k: r.v for r in spark.read.parquet(mv).collect()}
    assert got == {"a": 6, "b": 2}, "legacy contents lost in recovery"
    assert _os.path.islink(mv)


def test_streaming_welch_partials_finalize_equals_batch(spark, tmp_path):
    """Streaming twin of welch_ttest_click_view (r8): the Welch
    sufficient statistics (n, Σcents, Σcents²) per arm are plain
    mergeable sums, so per-window partials from an append-mode
    watermarked aggregation, merged by arm and pushed through the SAME
    double expression tree as the batch query, must reproduce the
    batch t/df BIT-identically (the Mann-Whitney twin recipe on the
    parametric sibling)."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    rows = [
        {
            "event_id": i,
            "event_type": "click" if i % 3 == 0 else "view",
            "value": round(((i * 13) % 400) / 4.0 + 0.25, 2),
            "ts": f"2024-01-01T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(500)
    ]
    sentinel = {
        "event_id": 999999,
        "event_type": "view",
        "value": 1.0,
        "ts": "2024-01-05T00:00:00.000Z",
    }
    d = str(tmp_path / "welch_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "event_id long, event_type string, value double, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    arm = F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a")
    cv = F.round(F.col("value") * 100).cast("bigint").alias("cv")
    partials = stream.select(arm, cv, "ts").groupBy(
        F.window("ts", "6 hours").alias("win"), "a"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cv").alias("s1"),
        F.sum(F.col("cv") * F.col("cv")).alias("s2"),
    )
    q = (
        partials.writeStream.format("memory")
        .queryName("welch_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(s):
        """(a, n, s1, s2) -> (n1, n2, t, df): the exact arithmetic of
        plans/analytics.py q_welch_ttest_click_view."""
        pick = lambda arm_, col: F.max(
            F.when(F.col("a") == arm_, F.col(col))
        )
        w = s.agg(
            pick(1, "n").alias("n1"),
            pick(0, "n").alias("n2"),
            pick(1, "s1").cast("double").alias("s11"),
            pick(0, "s1").cast("double").alias("s12"),
            pick(1, "s2").cast("double").alias("s21"),
            pick(0, "s2").cast("double").alias("s22"),
        )
        n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
        m1, m2 = F.col("s11") / n1d, F.col("s12") / n2d
        v1n = (
            (F.col("s21") - F.col("s11") * F.col("s11") / n1d)
            / (n1d - F.lit(1.0)) / n1d / F.lit(10000.0)
        )
        v2n = (
            (F.col("s22") - F.col("s12") * F.col("s12") / n2d)
            / (n2d - F.lit(1.0)) / n2d / F.lit(10000.0)
        )
        se2 = v1n + v2n
        r = w.select(
            "n1", "n2",
            ((m1 - m2) / F.lit(100.0) / F.sqrt(se2)).alias("t"),
            (
                se2 * se2
                / (
                    v1n * v1n / (n1d - F.lit(1.0))
                    + v2n * v2n / (n2d - F.lit(1.0))
                )
            ).alias("df"),
        ).collect()[0]
        return (r.n1, r.n2, repr(r.t), repr(r.df))

    streamed = (
        spark.table("welch_partials_tbl")
        .groupBy("a")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s1").alias("s1"),
            F.sum("s2").alias("s2"),
        )
    )
    batch = spark.createDataFrame(
        [(r["event_type"], r["value"]) for r in rows],
        "event_type string, value double",
    ).select(arm, cv)
    batch_s = batch.groupBy("a").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cv").alias("s1"),
        F.sum(F.col("cv") * F.col("cv")).alias("s2"),
    )
    sc = {r.a: (r.n, r.s1, r.s2) for r in streamed.collect()}
    bc = {r.a: (r.n, r.s1, r.s2) for r in batch_s.collect()}
    assert sc == bc and sum(v[0] for v in sc.values()) == 500
    assert finalize(streamed) == finalize(batch_s)
    assert (
        spark.table("welch_partials_tbl").select("win").distinct().count()
        >= 2
    )


def test_streaming_cochran_armitage_partials_finalize_equals_batch(
    spark, tmp_path
):
    """Streaming twin of cochran_armitage_trend (r8, 10th mergeable-twin
    member): the five sufficient statistics are per-dow-cell sums
    (n_i, x_i), so per-window (s, ni, xi) partials from an append-mode
    watermarked aggregation, merged by score and pushed through the
    SAME z assembly as the batch query, reproduce the batch z_trend
    BIT-identically."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    rows = [
        {
            "event_id": i,
            "event_type": "purchase" if (i * 7) % 11 < 3 + (i % 5) else "view",
            "ts": f"2024-01-{1 + i % 7:02d}T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(700)
    ]
    sentinel = {
        "event_id": 999999,
        "event_type": "view",
        "ts": "2024-02-01T00:00:00.000Z",
    }
    d = str(tmp_path / "ca_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "event_id long, event_type string, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    x = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    partials = stream.groupBy(
        F.window("ts", "6 hours").alias("win"),
        F.dayofweek("ts").alias("s"),
    ).agg(F.count(F.lit(1)).alias("ni"), F.sum(x).alias("xi"))
    q = (
        partials.writeStream.format("memory")
        .queryName("ca_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(cells):
        """(s, ni, xi) -> (n, x, repr(z)): the exact arithmetic of
        plans/analytics.py q_cochran_armitage_trend."""
        tot = cells.agg(
            F.sum("ni").alias("n"),
            F.sum("xi").alias("x"),
            F.sum(F.col("s") * F.col("xi")).alias("sx"),
            F.sum(F.col("s") * F.col("ni")).alias("sn"),
            F.sum(F.col("s") * F.col("s") * F.col("ni")).alias("ssn"),
        )
        nd = F.col("n").cast("double")
        xd = F.col("x").cast("double")
        p = xd / nd
        num = (
            F.col("sx").cast("double")
            - xd * F.col("sn").cast("double") / nd
        )
        var = p * (F.lit(1.0) - p) * (
            F.col("ssn").cast("double")
            - F.col("sn").cast("double") * F.col("sn").cast("double") / nd
        )
        r = tot.select(
            "n", "x", (num / F.sqrt(var)).alias("z")
        ).collect()[0]
        return (r.n, r.x, repr(r.z))

    streamed = (
        spark.table("ca_partials_tbl")
        .groupBy("s")
        .agg(F.sum("ni").alias("ni"), F.sum("xi").alias("xi"))
    )
    batch = spark.createDataFrame(
        [(r["event_type"], r["ts"]) for r in rows],
        "event_type string, ts_s string",
    ).select(
        F.dayofweek(F.to_timestamp("ts_s")).alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    batch_cells = batch.groupBy("s").agg(
        F.count(F.lit(1)).alias("ni"), F.sum("x").alias("xi")
    )
    sc = {r.s: (r.ni, r.xi) for r in streamed.collect()}
    bc = {r.s: (r.ni, r.xi) for r in batch_cells.collect()}
    assert sc == bc and sum(v[0] for v in sc.values()) == 700
    assert len(sc) >= 2  # multiple dow levels: trend nontrivial
    assert finalize(streamed) == finalize(batch_cells)
    assert (
        spark.table("ca_partials_tbl").select("win").distinct().count() >= 2
    )


def test_streaming_chi_square_gof_partials_finalize_equals_batch(
    spark, tmp_path
):
    """Streaming twin of chi_square_gof_uniform (r9, 11th mergeable-
    twin member): the sufficient statistics are the k per-category
    counts — plain mergeable SUMS — so per-window (event_type, ni)
    partials from an append-mode watermarked aggregation, merged by
    category and pushed through the SAME chi² assembly as the batch
    query, reproduce the batch statistic BIT-identically."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    types = ["view", "click", "purchase", "refund"]
    rows = [
        {
            "event_id": i,
            "event_type": types[(i * i + 3 * i) % 17 % len(types)],
            "ts": f"2024-01-{1 + i % 7:02d}T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(600)
    ]
    sentinel = {
        "event_id": 999999,
        "event_type": "view",
        "ts": "2024-02-01T00:00:00.000Z",
    }
    d = str(tmp_path / "gof_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "event_id long, event_type string, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    partials = stream.groupBy(
        F.window("ts", "6 hours").alias("win"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("ni"))
    q = (
        partials.writeStream.format("memory")
        .queryName("gof_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(cells):
        """(event_type, ni) -> (n, k, repr(chi2)): the exact arithmetic
        of plans/analytics.py q_chi_square_gof_uniform."""
        tot = cells.agg(
            F.sum("ni").alias("nn"), F.count(F.lit(1)).alias("k")
        )
        exp = F.col("nn").cast("double") / F.col("k").cast("double")
        dlt = F.col("ni").cast("double") - exp
        r = (
            cells.crossJoin(F.broadcast(tot))
            .agg(
                F.max("nn").alias("n"),
                F.max("k").alias("k"),
                F.sum(dlt * dlt / exp).alias("chi2"),
            )
            .collect()[0]
        )
        return (r.n, r.k, repr(r.chi2))

    streamed = (
        spark.table("gof_partials_tbl")
        .groupBy("event_type")
        .agg(F.sum("ni").alias("ni"))
    )
    batch_cells = (
        spark.createDataFrame(
            [(r["event_type"],) for r in rows], "event_type string"
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    sc = {r.event_type: r.ni for r in streamed.collect()}
    bc = {r.event_type: r.ni for r in batch_cells.collect()}
    assert sc == bc and sum(sc.values()) == 600
    assert len(sc) == len(types)  # every category observed: k cells
    assert finalize(streamed) == finalize(batch_cells)
    assert (
        spark.table("gof_partials_tbl").select("win").distinct().count() >= 2
    )


def test_streaming_eb_shrinkage_partials_finalize_equals_batch(
    spark, tmp_path
):
    """Streaming twin of eb_shrunk_purchase_rate (r9, 12th mergeable-
    twin member): the sufficient statistics are per-user (x, n) —
    plain mergeable SUMS — so per-window (user_id, x, n) partials from
    an append-mode watermarked aggregation, merged by user and pushed
    through the SAME fixed-point prior moments + shrinkage assembly as
    the batch query, reproduce the batch top rates BIT-identically."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    rows = [
        {
            "event_id": i,
            "user_id": i % 37,
            "event_type": "purchase" if (i * 13) % 17 < (i % 37) % 5 else "view",
            "ts": f"2024-01-{1 + i % 7:02d}T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(700)
    ]
    sentinel = {
        "event_id": 999999,
        "user_id": 0,
        "event_type": "view",
        "ts": "2024-02-01T00:00:00.000Z",
    }
    d = str(tmp_path / "eb_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "event_id long, user_id long, event_type string, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    xcol = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    partials = stream.groupBy(
        F.window("ts", "6 hours").alias("win"), "user_id"
    ).agg(F.sum(xcol).alias("x"), F.count(F.lit(1)).alias("n"))
    q = (
        partials.writeStream.format("memory")
        .queryName("eb_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(cells):
        """(user_id, x, n) -> sorted top rows under the exact
        fixed-point EB arithmetic of q_eb_shrunk_purchase_rate."""
        fp = cells.withColumn(
            "r_fp",
            F.floor(F.lit(1000000.0) * F.col("x") / F.col("n")).cast(
                "bigint"
            ),
        )
        m = fp.agg(
            F.count(F.lit(1)).alias("uu"),
            F.sum("r_fp").alias("sr"),
            F.sum(F.col("r_fp") * F.col("r_fp")).alias("sr2"),
        )
        uu = F.col("uu").cast("double")
        mm = F.col("sr").cast("double") / uu / F.lit(1000000.0)
        vv = (
            F.col("sr2").cast("double") / uu
            - (F.col("sr").cast("double") / uu)
            * (F.col("sr").cast("double") / uu)
        ) / F.lit(1000000000000.0)
        cc = m.select(
            F.greatest(mm * (1.0 - mm) / vv - 1.0, F.lit(0.0)).alias("c"),
            mm.alias("mm"),
        )
        out = fp.crossJoin(F.broadcast(cc)).select(
            "user_id",
            "x",
            "n",
            (
                (F.col("x").cast("double") + F.col("mm") * F.col("c"))
                / (F.col("n").cast("double") + F.col("c"))
            ).alias("sr_raw"),
        )
        return sorted(
            (r.user_id, r.x, r.n, repr(r.sr_raw)) for r in out.collect()
        )

    streamed = (
        spark.table("eb_partials_tbl")
        .groupBy("user_id")
        .agg(F.sum("x").alias("x"), F.sum("n").alias("n"))
    )
    batch = (
        spark.createDataFrame(
            [(r["user_id"], r["event_type"]) for r in rows],
            "user_id long, event_type string",
        )
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("x"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    sc = {r.user_id: (r.x, r.n) for r in streamed.collect()}
    bc = {r.user_id: (r.x, r.n) for r in batch.collect()}
    assert sc == bc and sum(v[1] for v in sc.values()) == 700
    assert any(v[0] > 0 for v in sc.values())  # purchases present
    assert finalize(streamed) == finalize(batch)
    assert (
        spark.table("eb_partials_tbl").select("win").distinct().count() >= 2
    )


def test_streaming_jackknife_partials_finalize_equals_batch(
    spark, tmp_path
):
    """Streaming twin of jackknife_purchase_view_ratio (r9, 13th
    mergeable-twin member): the sufficient statistics are per-DAY
    (p, v) counts — plain mergeable SUMS — so per-window partials
    merged by day and pushed through the SAME fixed-point LOO + SE
    assembly reproduce the batch jackknife SE BIT-identically."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    rows = [
        {
            "event_id": i,
            "event_type": "purchase" if (i * 11) % 13 < 4 else "view",
            "ts": f"2024-01-{1 + i % 9:02d}T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(700)
    ]
    sentinel = {
        "event_id": 999999,
        "event_type": "view",
        "ts": "2024-02-05T00:00:00.000Z",
    }
    d = str(tmp_path / "jk_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "event_id long, event_type string, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    partials = stream.groupBy(
        F.window("ts", "6 hours").alias("win"),
        F.date_trunc("day", "ts").alias("day"),
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("p"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "v"
        ),
    )
    q = (
        partials.writeStream.format("memory")
        .queryName("jk_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(days):
        """(day, p, v) -> (n_days, repr(theta), repr(se·1e6)): the
        exact fixed-point arithmetic of q_jackknife_purchase_view_ratio."""
        tot = days.agg(
            F.count(F.lit(1)).alias("dd"),
            F.sum("p").alias("pp"),
            F.sum("v").alias("vv"),
        )
        loo = days.crossJoin(F.broadcast(tot)).select(
            F.floor(
                F.lit(1000000.0)
                * (F.col("pp") - F.col("p"))
                / (F.col("vv") - F.col("v"))
            )
            .cast("bigint")
            .alias("l_fp")
        )
        s = loo.agg(
            F.count(F.lit(1)).alias("dd"),
            F.sum("l_fp").alias("sl"),
            F.sum(F.col("l_fp") * F.col("l_fp")).alias("sl2"),
        ).collect()[0]
        t = tot.collect()[0]
        import math as _math

        ss = float(s.sl2) - float(s.sl) * float(s.sl) / float(s.dd)
        se = _math.sqrt((float(s.dd) - 1.0) / float(s.dd) * ss)
        return (t.dd, repr(t.pp / t.vv), repr(se))

    streamed = (
        spark.table("jk_partials_tbl")
        .groupBy("day")
        .agg(F.sum("p").alias("p"), F.sum("v").alias("v"))
    )
    batch = (
        spark.createDataFrame(
            [(r["event_type"], r["ts"]) for r in rows],
            "event_type string, ts_s string",
        )
        .select(
            F.date_trunc("day", F.to_timestamp("ts_s")).alias("day"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("ip"),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias(
                "iv"
            ),
        )
        .groupBy("day")
        .agg(F.sum("ip").alias("p"), F.sum("iv").alias("v"))
    )
    sc = {r.day: (r.p, r.v) for r in streamed.collect()}
    bc = {r.day: (r.p, r.v) for r in batch.collect()}
    assert sc == bc and sum(a + b for a, b in sc.values()) == 700
    assert len(sc) >= 3  # several days: LOO nontrivial
    assert finalize(streamed) == finalize(batch)
    assert (
        spark.table("jk_partials_tbl").select("win").distinct().count() >= 2
    )


def test_streaming_good_turing_partials_finalize_equals_batch(
    spark, tmp_path
):
    """Streaming twin of good_turing_unseen_mass (r9, 14th mergeable-
    twin member — the incremental vocabulary-coverage monitor): the
    sufficient statistics are per-trigram counts — plain mergeable
    SUMS — so per-window (tok, cnt) partials from an append-mode
    watermarked aggregation over a DOCUMENT stream, merged by trigram
    and pushed through the SAME count-of-counts + N₁/N assembly,
    reproduce the batch unseen-mass estimate BIT-identically."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = [
        {
            "doc_id": i,
            "text": " ".join(
                vocab[(i * j * j + 3 * j) % len(vocab)]
                for j in range(4 + i % 5)
            ),
            "ts": f"2024-01-{1 + i % 5:02d}T{(i * 7) % 24:02d}:00:00.000Z",
        }
        for i in range(120)
    ]
    sentinel = {"doc_id": 999999, "text": "x y z", "ts": "2024-02-01T00:00:00.000Z"}
    d = str(tmp_path / "gt_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string("doc_id long, text string, ts timestamp")
    trigrams = F.expr(
        "transform(sequence(0, size(split(text, ' ')) - 3), i -> "
        "concat_ws(' ', split(text, ' ')[i], split(text, ' ')[i+1], "
        "split(text, ' ')[i+2]))"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
        .filter(F.size(F.split("text", " ")) >= 3)
        .select("ts", F.explode(trigrams).alias("tok"))
    )
    partials = stream.groupBy(
        F.window("ts", "6 hours").alias("win"), "tok"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    q = (
        partials.writeStream.format("memory")
        .queryName("gt_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(cnt):
        """(tok, r) -> (N, N1..N5 dict, repr(p_unseen)): the exact
        count-of-counts arithmetic of q_good_turing_unseen_mass."""
        nr = {
            row.r: row.n_r
            for row in cnt.filter(F.col("r") <= 5)
            .groupBy("r")
            .agg(F.count(F.lit(1)).alias("n_r"))
            .collect()
        }
        n_tokens = cnt.agg(F.sum("r")).collect()[0][0]
        return (n_tokens, nr, repr(nr.get(1, 0) / n_tokens))

    streamed = (
        spark.table("gt_partials_tbl")
        .groupBy("tok")
        .agg(F.sum("cnt").alias("r"))
    )
    batch = (
        spark.createDataFrame(
            [(r["text"],) for r in rows], "text string"
        )
        .filter(F.size(F.split("text", " ")) >= 3)
        .select(F.explode(trigrams).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    sc = {r.tok: r.r for r in streamed.collect()}
    bc = {r.tok: r.r for r in batch.collect()}
    assert sc == bc and len(sc) > 10
    assert finalize(streamed) == finalize(batch)
    assert (
        spark.table("gt_partials_tbl").select("win").distinct().count() >= 2
    )


def test_streaming_shapley_partials_finalize_equals_batch(spark, tmp_path):
    """Streaming twin of shapley_channel_attribution (15th mergeable-
    twin member — incremental attribution): a user's coalition mask is
    the bitwise OR of channel bits and conversion is a max, BOTH
    mergeable across windows, so per-window (user, mask, conv)
    partials from an append-mode watermarked aggregation OR/max-merge
    into the exact per-user coalition table; the fixed-point 2⁴
    Shapley lattice over the merged masks reproduces the batch
    attribution BIT-identically (every φ is an exact integer sum,
    plans/analytics.py:q_shapley_channel_attribution)."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    channels = ["view", "click", "signup", "error"]
    rows = []
    for i in range(160):
        user = i % 23
        etype = (
            "purchase"
            if (i % 11) == 0
            else channels[(i * 3 + user) % len(channels)]
        )
        rows.append(
            {
                "user_id": user,
                "event_type": etype,
                "ts": f"2024-01-{1 + i % 4:02d}T{(i * 5) % 24:02d}:00:00.000Z",
            }
        )
    sentinel = {
        "user_id": 999,
        "event_type": "view",
        "ts": "2024-02-01T00:00:00.000Z",
    }
    d = str(tmp_path / "shap_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "user_id long, event_type string, ts timestamp"
    )
    mask_bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "error", 8)
        .otherwise(0)
    )
    conv_bit = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
        .select(
            "ts",
            "user_id",
            mask_bit.alias("mb"),
            conv_bit.alias("cb"),
        )
    )
    partials = stream.groupBy(
        F.window("ts", "6 hours").alias("win"), "user_id"
    ).agg(
        F.expr("bit_or(mb)").alias("mask_w"),
        F.max("cb").alias("conv_w"),
    )
    q = (
        partials.writeStream.format("memory")
        .queryName("shap_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(per_user):
        """(user, mask, conv) -> channel -> exact integer Σ24e9·φ:
        the fixed-point lattice of q_shapley_channel_attribution."""
        counts = {}
        for r in per_user.collect():
            nu, nc = counts.get(r.mask, (0, 0))
            counts[r.mask] = (nu + 1, nc + r.conv)
        vfp = {
            m: (1_000_000_000 * nc) // nu for m, (nu, nc) in counts.items()
        }
        phi = {}
        for c in range(4):
            tot = 0
            for m0 in range(16):
                if (m0 >> c) & 1:
                    continue
                m1 = m0 | (1 << c)
                k = bin(m0).count("1")
                w = {0: 6, 1: 2, 2: 2, 3: 6}[k]
                tot += w * (vfp.get(m1, 0) - vfp.get(m0, 0))
            phi[c] = tot
        return phi

    streamed = (
        spark.table("shap_partials_tbl")
        .groupBy("user_id")
        .agg(
            F.expr("bit_or(mask_w)").alias("mask"),
            F.max("conv_w").alias("conv"),
        )
    )
    batch = (
        spark.createDataFrame(
            [(r["user_id"], r["event_type"]) for r in rows],
            "user_id long, event_type string",
        )
        .select("user_id", mask_bit.alias("mb"), conv_bit.alias("cb"))
        .groupBy("user_id")
        .agg(F.expr("bit_or(mb)").alias("mask"), F.max("cb").alias("conv"))
    )
    sc = {r.user_id: (r.mask, r.conv) for r in streamed.collect()}
    bc = {r.user_id: (r.mask, r.conv) for r in batch.collect()}
    # sentinel user only exists on the streamed side; drop before compare
    sc.pop(999, None)
    assert sc == bc and len(sc) == 23
    assert finalize(streamed.filter(F.col("user_id") != 999)) == finalize(
        batch
    )
    assert (
        spark.table("shap_partials_tbl").select("win").distinct().count()
        >= 2
    )


def test_streaming_cramers_v_partials_finalize_equals_batch(
    spark, tmp_path
):
    """Streaming twin of cramers_v_type_dow (16th mergeable-twin
    member): the sufficient statistics are the r×c contingency CELL
    COUNTS — plain mergeable sums — so per-window (event_type, dow, o)
    partials from an append-mode watermarked aggregation, merged by
    cell and pushed through the SAME fixed-point χ²/V assembly as the
    batch query (exact integer floor division, order-free), reproduce
    the batch statistic BIT-identically."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    types = ["view", "click", "purchase"]
    rows = [
        {
            "event_id": i,
            "event_type": types[(i * i + 5 * i) % 13 % len(types)],
            "ts": f"2024-01-{1 + (i * 7 + i // 9) % 14:02d}"
            f"T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(700)
    ]
    sentinel = {
        "event_id": 999999,
        "event_type": "view",
        "ts": "2024-03-01T00:00:00.000Z",
    }
    d = str(tmp_path / "cramers_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "event_id long, event_type string, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    dow = (
        F.floor(F.unix_micros("ts") / F.lit(86400000000)) % 7
    ).alias("dow")
    partials = stream.groupBy(
        F.window("ts", "12 hours").alias("win"),
        "event_type",
        dow,
    ).agg(F.count(F.lit(1)).alias("o"))
    q = (
        partials.writeStream.format("memory")
        .queryName("cramers_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(cells):
        """(event_type, dow, o) -> exact-integer sfp + doubles: the
        arithmetic of plans/analytics.py q_cramers_v_type_dow."""
        rt = (
            cells.groupBy("event_type")
            .agg(F.sum("o").alias("r"))
            .select(F.col("event_type").alias("_et"), "r")
        )
        ct = (
            cells.groupBy("dow")
            .agg(F.sum("o").alias("c"))
            .select(F.col("dow").alias("_dw"), "c")
        )
        nn = cells.agg(F.sum("o").alias("n"))
        full = (
            cells.join(
                F.broadcast(rt), F.col("event_type") == F.col("_et")
            )
            .join(F.broadcast(ct), F.col("dow") == F.col("_dw"))
            .crossJoin(F.broadcast(nn))
        )
        r = full.agg(
            F.max("n").alias("n"),
            F.countDistinct("event_type").alias("rk"),
            F.countDistinct("dow").alias("ck"),
            F.sum(
                F.expr(
                    "(CAST(o AS DECIMAL(38,0)) * o * n * 1000000000) div "
                    "(CAST(r AS DECIMAL(38,0)) * c)"
                )
            ).alias("sfp"),
        ).collect()[0]
        chi2 = float(r.sfp) / 1e9 - r.n
        return (r.n, r.rk, r.ck, str(r.sfp), repr(chi2))

    streamed = (
        spark.table("cramers_partials_tbl")
        .groupBy("event_type", "dow")
        .agg(F.sum("o").alias("o"))
    )
    batch_cells = (
        spark.createDataFrame(
            [(r["event_type"], r["ts"]) for r in rows],
            "event_type string, ts string",
        )
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"))
        .groupBy("event_type", dow)
        .agg(F.count(F.lit(1)).alias("o"))
    )
    sc = {(r.event_type, r.dow): r.o for r in streamed.collect()}
    bc = {(r.event_type, r.dow): r.o for r in batch_cells.collect()}
    assert sc == bc and sum(sc.values()) == 700
    assert len({k[1] for k in sc}) >= 5  # several dow columns observed
    assert finalize(streamed) == finalize(batch_cells)
    assert (
        spark.table("cramers_partials_tbl")
        .select("win")
        .distinct()
        .count()
        >= 2
    )


def test_streaming_wasserstein_partials_finalize_equals_batch(
    spark, tmp_path
):
    """Streaming twin of wasserstein_click_vs_view (17th mergeable-twin
    member): the sufficient statistic is the per-distinct-value
    HISTOGRAM (cv, t1, t2) — mergeable sums — so per-window partials
    merged by cv and pushed through the same exact-integer W1 assembly
    (cum mass imbalance × neighbor gap on the common n1·n2
    denominator) reproduce the batch distance BIT-identically. This is
    the incremental distribution-drift monitor: each window ships a
    tiny histogram delta; W1 re-finalizes from the merged histogram."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string
    from pyspark.sql.window import Window

    rows = [
        {
            "event_id": i,
            "event_type": "click" if (i * i + i) % 5 < 2 else "view",
            "value": ((i * 37) % 97) + (0.25 if i % 2 else 0.5),
            "ts": f"2024-01-{1 + i % 9:02d}"
            f"T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(800)
    ]
    sentinel = {
        "event_id": 999999,
        "event_type": "view",
        "value": 1.0,
        "ts": "2024-03-01T00:00:00.000Z",
    }
    d = str(tmp_path / "w1_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "event_id long, event_type string, value double, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    cv = F.round(F.col("value") * 100).cast("bigint").alias("cv")
    a = F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a")
    partials = (
        stream.select("ts", cv, a)
        .groupBy(F.window("ts", "12 hours").alias("win"), "cv")
        .agg(
            F.sum("a").alias("t1"),
            F.sum(1 - F.col("a")).alias("t2"),
        )
    )
    q = (
        partials.writeStream.format("memory")
        .queryName("w1_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(hist):
        """(cv, t1, t2) histogram -> (n1, n2, repr(w1)): the exact
        arithmetic of plans/analytics.py q_wasserstein_click_vs_view
        (test-side uses a plain window — fixture-sized input)."""
        tot = hist.agg(
            F.sum("t1").alias("n1"), F.sum("t2").alias("n2")
        )
        w = Window.orderBy("cv").rowsBetween(
            Window.unboundedPreceding, 0
        )
        full = hist.crossJoin(F.broadcast(tot)).select(
            "cv",
            "n1",
            "n2",
            F.sum(
                F.col("t1") * F.col("n2") - F.col("t2") * F.col("n1")
            )
            .over(w)
            .alias("dc"),
            F.lead("cv").over(Window.orderBy("cv")).alias("nxt"),
        )
        r = (
            full.filter(F.col("nxt").isNotNull())
            .agg(
                F.max("n1").alias("n1"),
                F.max("n2").alias("n2"),
                F.sum(
                    (F.abs(F.col("dc")) * (F.col("nxt") - F.col("cv")))
                    .cast("decimal(38,0)")
                ).alias("wfp"),
            )
            .collect()[0]
        )
        w1 = float(str(r.wfp)) / (r.n1 * r.n2 * 100.0)
        return (r.n1, r.n2, str(r.wfp), repr(w1))

    streamed = (
        spark.table("w1_partials_tbl")
        .groupBy("cv")
        .agg(F.sum("t1").alias("t1"), F.sum("t2").alias("t2"))
    )
    batch_hist = (
        spark.createDataFrame(
            [(r["event_type"], r["value"]) for r in rows],
            "event_type string, value double",
        )
        .select(cv, a)
        .groupBy("cv")
        .agg(F.sum("a").alias("t1"), F.sum(1 - F.col("a")).alias("t2"))
    )
    sc = {r.cv: (r.t1, r.t2) for r in streamed.collect()}
    bc = {r.cv: (r.t1, r.t2) for r in batch_hist.collect()}
    assert sc == bc and sum(v[0] + v[1] for v in sc.values()) == 800
    fs, fb = finalize(streamed), finalize(batch_hist)
    assert fs == fb
    assert float(fs[3]) > 0.0  # drift actually present, not vacuous
    assert (
        spark.table("w1_partials_tbl").select("win").distinct().count()
        >= 2
    )


def test_streaming_log_rank_partials_finalize_equals_batch(
    spark, tmp_path
):
    """Streaming twin of log_rank_conversion_survival (18th mergeable-
    twin member, and the first whose partials merge by MIN/MAX rather
    than sum): the sufficient statistics are per-user (min ts, max ts)
    plus per-(user, purchase-value) (min purchase ts, count) — the
    value-grained state an order-statistic conversion cut requires.
    Per-window partials merge by min/min/max/sum; the finalize derives
    the exact 90th-percentile cut from the merged purchase histogram,
    rebuilds the (g, dur, ev) survival frame, and pushes it through
    THE SAME log_rank_from_surv Column tree as the batch query —
    bit-identical output."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string
    from pyspark.sql.window import Window

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.analytics import (
        log_rank_from_surv,
    )

    types = ["view", "click", "purchase", "signup"]
    rows = [
        {
            "user_id": i % 24,
            "event_type": types[(i * i + 7 * i) % 11 % len(types)],
            "value": ((i * 53) % 211) + (0.25 if i % 3 else 0.75),
            "ts": f"2024-01-{1 + (i * 5 + i // 13) % 12:02d}"
            f"T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(900)
    ]
    sentinel = {
        "user_id": 999,
        "event_type": "view",
        "value": 1.0,
        "ts": "2024-03-01T00:00:00.000Z",
    }
    d = str(tmp_path / "logrank_src")
    _os.makedirs(d)
    # two data chunks + sentinel: the late-record filter lags state
    # eviction by one batch, so a THIRD data chunk re-visiting old days
    # is dropped as late (measured: 624/901 survive) — the two-chunk
    # shape every twin in this family uses is the safe envelope.
    half = len(rows) // 2
    chunks = [rows[:half], rows[half:], [sentinel]]
    for i, chunk in enumerate(chunks):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "user_id long, event_type string, value double, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    us = F.unix_micros("ts").alias("us")
    cv = F.round(F.col("value") * 100).cast("bigint").alias("cv")
    is_p = (F.col("event_type") == "purchase").alias("is_p")
    partials = (
        stream.select("ts", "user_id", us, cv, is_p)
        .groupBy(
            F.window("ts", "12 hours").alias("win"),
            "user_id",
            F.when(F.col("is_p"), F.col("cv")).alias("pcv"),
        )
        .agg(
            F.min("us").alias("t0p"),
            F.max("us").alias("tlp"),
            F.sum(F.when(F.col("is_p"), 1).otherwise(0)).alias("pcnt"),
            F.min(F.when(F.col("is_p"), F.col("us"))).alias("pmin"),
        )
    )
    q = (
        partials.writeStream.format("memory")
        .queryName("logrank_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def surv_from_parts(parts):
        """Merged partials -> (g, dur, ev): exact-cut + per-user
        min/max merge, the arithmetic of the batch query's front half."""
        # exclude the sentinel user (it exists only to close windows)
        parts = parts.filter(F.col("user_id") != 999)
        hist = (
            parts.filter(F.col("pcv").isNotNull())
            .groupBy("pcv")
            .agg(F.sum("pcnt").alias("t"))
        )
        w = Window.orderBy("pcv").rowsBetween(
            Window.unboundedPreceding, 0
        )
        np_ = hist.agg(F.sum("t").alias("n"))
        cut = (
            hist.select("pcv", F.sum("t").over(w).alias("c"))
            .crossJoin(F.broadcast(np_))
            .filter(F.col("c") >= F.expr("(9 * n + 9) div 10"))
            .agg(F.min("pcv").alias("cut"))
        )
        peru = parts.groupBy("user_id").agg(
            F.min("t0p").alias("t0"), F.max("tlp").alias("tl")
        )
        conv = (
            parts.crossJoin(F.broadcast(cut))
            .filter(F.col("pcv") > F.col("cut"))
            .groupBy("user_id")
            .agg(F.min("pmin").alias("tc"))
            .select(F.col("user_id").alias("_cu"), "tc")
        )
        return peru.join(
            conv, F.col("user_id") == F.col("_cu"), "left"
        ).select(
            (F.col("user_id") % 2).alias("g"),
            F.expr("(coalesce(tc, tl) - t0) div 86400000000").alias("dur"),
            F.when(F.col("tc").isNotNull(), 1).otherwise(0).alias("ev"),
        )

    streamed_parts = spark.table("logrank_partials_tbl").groupBy(
        "user_id", "pcv"
    ).agg(
        F.min("t0p").alias("t0p"),
        F.max("tlp").alias("tlp"),
        F.sum("pcnt").alias("pcnt"),
        F.min("pmin").alias("pmin"),
    )
    batch_parts = (
        spark.createDataFrame(
            [
                (r["user_id"], r["event_type"], r["value"], r["ts"])
                for r in rows
            ],
            "user_id long, event_type string, value double, ts string",
        )
        .select(
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event_type"),
            F.col("value"),
        )
        .select("user_id", us, cv, is_p)
        .groupBy(
            "user_id", F.when(F.col("is_p"), F.col("cv")).alias("pcv")
        )
        .agg(
            F.min("us").alias("t0p"),
            F.max("us").alias("tlp"),
            F.sum(F.when(F.col("is_p"), 1).otherwise(0)).alias("pcnt"),
            F.min(F.when(F.col("is_p"), F.col("us"))).alias("pmin"),
        )
    )
    sres = [
        tuple(r)
        for r in log_rank_from_surv(surv_from_parts(streamed_parts))
        .collect()
    ]
    bres = [
        tuple(r)
        for r in log_rank_from_surv(surv_from_parts(batch_parts)).collect()
    ]
    assert sres == bres
    (row,) = sres
    # non-vacuous: conversions and censoring both present, variance > 0
    n_g1, n_g0, n_conv, o1 = row[0], row[1], row[2], row[3]
    assert n_g1 + n_g0 == 24 and 0 < n_conv < 24 and 0 < o1 < n_conv + 1
    assert row[5] > 0  # var1
    assert (
        spark.table("logrank_partials_tbl")
        .select("win")
        .distinct()
        .count()
        >= 2
    )


def test_streaming_cohens_kappa_partials_finalize_equals_batch(
    spark, tmp_path
):
    """Streaming twin of cohens_kappa_lang_id (19th mergeable-twin
    member): the sufficient statistic is the confusion matrix —
    per-window (lang, lang_pred, n) cell partials are plain mergeable
    sums (lang_id is a stateless per-row Column, so prediction happens
    in-stream); merged cells pushed through the same exact-integer
    kappa assembly reproduce the batch statistic BIT-identically."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.text import (
        lang_id,
    )

    texts = [
        ("en", "the cat and the dog is in a tree"),
        ("en", "le chat est la"),  # labeled en, predicts fr: disagreement
        ("fr", "le chat est la et les chiens"),
        ("fr", "the dog is here"),  # labeled fr, predicts en
        ("es", "el perro es que los gatos y la"),
        ("de", "der hund ist nicht die katze und das"),
    ]
    rows = [
        {
            "doc_id": i,
            "lang": texts[(i * i + 3 * i) % 7 % len(texts)][0],
            "text": texts[(i * i + 3 * i) % 7 % len(texts)][1],
            "ts": f"2024-01-{1 + i % 10:02d}"
            f"T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(500)
    ]
    sentinel = {
        "doc_id": 999999,
        "lang": "en",
        "text": "the end",
        "ts": "2024-03-01T00:00:00.000Z",
    }
    d = str(tmp_path / "kappa_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "doc_id long, lang string, text string, ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    partials = stream.groupBy(
        F.window("ts", "12 hours").alias("win"),
        "lang",
        lang_id("text").alias("lang_pred"),
    ).agg(F.count(F.lit(1)).alias("n"))
    q = (
        partials.writeStream.format("memory")
        .queryName("kappa_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(conf):
        """(lang, lang_pred, n) cells -> exact-integer kappa pieces:
        the arithmetic of plans/warehouse.py q_cohens_kappa_lang_id."""
        rows_m = (
            conf.groupBy("lang")
            .agg(F.sum("n").alias("r"))
            .select(F.col("lang").alias("lbl"), "r")
        )
        cols_m = (
            conf.groupBy("lang_pred")
            .agg(F.sum("n").alias("c"))
            .select(F.col("lang_pred").alias("lbl2"), "c")
        )
        tots = conf.agg(
            F.sum("n").alias("nn"),
            F.sum(
                F.when(
                    F.col("lang") == F.col("lang_pred"), F.col("n")
                ).otherwise(0)
            ).alias("agree"),
        ).collect()[0]
        src = (
            rows_m.join(
                F.broadcast(cols_m), F.col("lbl") == F.col("lbl2")
            )
            .agg(F.sum(F.col("r") * F.col("c")).alias("s"))
            .collect()[0]
        )
        nn, agree, s = tots.nn, tots.agree, src.s
        kappa = (nn * agree - s) / (nn * nn - s)
        return (nn, agree, s, repr(kappa))

    streamed = (
        spark.table("kappa_partials_tbl")
        .groupBy("lang", "lang_pred")
        .agg(F.sum("n").alias("n"))
    )
    batch = (
        spark.createDataFrame(
            [(r["lang"], r["text"]) for r in rows],
            "lang string, text string",
        )
        .groupBy("lang", lang_id("text").alias("lang_pred"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sc = {(r.lang, r.lang_pred): r.n for r in streamed.collect()}
    bc = {(r.lang, r.lang_pred): r.n for r in batch.collect()}
    assert sc == bc and sum(sc.values()) == 500
    # real disagreement present (off-diagonal cells), not a trivial
    # all-agree matrix
    assert any(k[0] != k[1] for k in sc)
    fs, fb = finalize(streamed), finalize(batch)
    assert fs == fb
    assert 0.0 < float(fs[3]) < 1.0
    assert (
        spark.table("kappa_partials_tbl").select("win").distinct().count()
        >= 2
    )


def test_streaming_t_closeness_partials_finalize_equals_batch(
    spark, tmp_path
):
    """Streaming twin of t_closeness_report (20th mergeable-twin
    member — the incremental privacy monitor): the sufficient
    statistic is the (class, sensitive-bucket) histogram — mergeable
    sums — so per-window partials from an append-mode watermarked
    aggregation over a record feed, merged by cell and pushed through
    the same exact cross-multiplied EMD assembly, reproduce the batch
    per-class t BIT-identically."""
    import json as _json
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.types import _parse_datatype_string
    from pyspark.sql.window import Window

    rows = [
        {
            "cust_id": i,
            "nation": i % 3,
            "segment": ["AUTO", "HOUSE"][(i * i) % 2],
            "acctbal": float(((i * 131) % 9000) - 800) + 0.25,
            "ts": f"2024-01-{1 + (i * 3) % 11:02d}"
            f"T{(i // 60) % 24:02d}:{i % 60:02d}:00.000Z",
        }
        for i in range(600)
    ]
    sentinel = {
        "cust_id": 999999,
        "nation": 0,
        "segment": "AUTO",
        "acctbal": 1.0,
        "ts": "2024-03-01T00:00:00.000Z",
    }
    d = str(tmp_path / "tclose_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "cust_id long, nation long, segment string, acctbal double, "
        "ts timestamp"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    b = F.floor(F.col("acctbal") / F.lit(1000.0)).cast("bigint").alias("b")
    partials = stream.groupBy(
        F.window("ts", "12 hours").alias("win"),
        "nation",
        "segment",
        b,
    ).agg(F.count(F.lit(1)).alias("cnt"))
    q = (
        partials.writeStream.format("memory")
        .queryName("tclose_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(cells):
        """(nation, segment, b, cnt) -> {(nation, segment): exact EMD
        pieces}: the arithmetic of q_t_closeness_report."""
        gb = (
            cells.groupBy("b")
            .agg(F.sum("cnt").alias("g"))
            .select(F.col("b").alias("_gb"), "g")
        )
        nn = cells.agg(F.sum("cnt").alias("n"))
        cls = (
            cells.groupBy("nation", "segment")
            .agg(F.sum("cnt").alias("nc"))
            .select(
                F.col("nation").alias("_cn"),
                F.col("segment").alias("_cs"),
                "nc",
            )
        )
        cb = cells.groupBy("nation", "segment", "b").agg(
            F.sum("cnt").alias("cnt")
        )
        grid = (
            cls.crossJoin(F.broadcast(gb))
            .join(
                cb,
                (F.col("nation") == F.col("_cn"))
                & (F.col("segment") == F.col("_cs"))
                & (F.col("b") == F.col("_gb")),
                "left",
            )
            .select(
                "_cn",
                "_cs",
                "nc",
                "_gb",
                "g",
                F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            )
            .crossJoin(F.broadcast(nn))
        )
        span = gb.agg(
            (F.max("_gb") - F.min("_gb")).alias("m1"),
            F.max("_gb").alias("bmax"),
        )
        w = (
            Window.partitionBy("_cn", "_cs")
            .orderBy("_gb")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = grid.select(
            "_cn",
            "_cs",
            "nc",
            "_gb",
            F.sum(
                F.col("cnt") * F.col("n") - F.col("g") * F.col("nc")
            )
            .over(w)
            .alias("d"),
            "n",
        ).crossJoin(F.broadcast(span))
        emd = (
            cum.filter(F.col("_gb") < F.col("bmax"))
            .groupBy("_cn", "_cs", "nc", "n", "m1")
            .agg(F.sum(F.abs(F.col("d"))).alias("s"))
        )
        return {
            (r._cn, r._cs): (r.nc, r.s, repr(r.s / (r.nc * r.n * r.m1)))
            for r in emd.collect()
        }

    streamed = (
        spark.table("tclose_partials_tbl")
        .groupBy("nation", "segment", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )
    batch = (
        spark.createDataFrame(
            [(r["nation"], r["segment"], r["acctbal"]) for r in rows],
            "nation long, segment string, acctbal double",
        )
        .groupBy("nation", "segment", b)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sc = {
        (r.nation, r.segment, r.b): r.cnt
        for r in streamed.collect()
    }
    # the sentinel only advances the watermark; its own window never
    # closes, so it never reaches the append sink — no adjustment
    bc = {
        (r.nation, r.segment, r.b): r.cnt for r in batch.collect()
    }
    assert sc == bc and sum(sc.values()) == 600
    sdf = spark.createDataFrame(
        [(k[0], k[1], k[2], v) for k, v in sc.items()],
        "nation long, segment string, b long, cnt long",
    )
    bdf = spark.createDataFrame(
        [(k[0], k[1], k[2], v) for k, v in bc.items()],
        "nation long, segment string, b long, cnt long",
    )
    fs, fb = finalize(sdf), finalize(bdf)
    assert fs == fb
    assert len(fs) == 6  # 3 nations x 2 segments
    # non-vacuous: distributions genuinely differ across classes
    assert len({v[2] for v in fs.values()}) > 1
    assert (
        spark.table("tclose_partials_tbl")
        .select("win")
        .distinct()
        .count()
        >= 2
    )


def test_watermark_late_filter_lags_eviction_one_batch(spark, tmp_path):
    """Regression pin for the measured r9 environment fact every twin
    source is shaped around: the LATE-RECORD FILTER of a watermarked
    windowed agg applies the watermark committed at the end of the
    PREVIOUS batch, one batch behind the data that produced it. So,
    with event times interleaved across files (each file spans the
    whole ts range):
      - 2 data files  → file 2 is filtered against the pre-file-1
        watermark (epoch) and NOTHING is dropped;
      - 3 data files  → file 3 is filtered against the watermark from
        file 1 (max_ts − delay) and its old-window rows ARE dropped.
    A Spark upgrade that starts applying the watermark same-batch (or
    stops advancing it per-batch) flips one of these asserts instead
    of silently reshaping every twin test's source."""
    import json as _json
    import os as _os

    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string("event_id long, ts timestamp")

    def mk_rows(base):
        # every chunk spans days 1..9 (interleaved event time)
        return [
            {
                "event_id": base + i,
                "ts": f"2024-01-{1 + i % 9:02d}T{(i * 7) % 24:02d}"
                f":{i % 60:02d}:00.000Z",
            }
            for i in range(200)
        ]

    def run(n_chunks):
        d = str(tmp_path / f"lag_src_{n_chunks}")
        _os.makedirs(d)
        chunks = [mk_rows(1000 * c) for c in range(n_chunks)]
        files = chunks + [
            [{"event_id": 999998, "ts": "2024-03-01T00:00:00.000Z"}],
            [{"event_id": 999999, "ts": "2024-04-01T00:00:00.000Z"}],
        ]
        for i, chunk in enumerate(files):
            with open(f"{d}/f{i}.json", "w") as f:
                for r in chunk:
                    f.write(_json.dumps(r) + "\n")
            _os.utime(f"{d}/f{i}.json", (1700000000 + i,) * 2)
        stream = (
            spark.readStream.format("json")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(d)
            .withWatermark("ts", "10 minutes")
        )
        counts = stream.groupBy(
            F.window("ts", "12 hours").alias("win")
        ).agg(F.count(F.lit(1)).alias("n"))
        name = f"lag_tbl_{n_chunks}"
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        return {
            (r.win.start, r.win.end): r.n
            for r in spark.table(name)
            .filter(F.col("win.end") < F.lit("2024-02-01").cast("timestamp"))
            .collect()
        }, chunks

    import datetime as _dt

    # 2 interleaved chunks: one-batch lag → zero late drops
    landed2, chunks2 = run(2)
    assert sum(landed2.values()) == 400

    # 3 interleaved chunks: chunk 3 meets the watermark from chunk 1
    landed3, chunks3 = run(3)
    all_ts = [
        _dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00"))
        for c in chunks3[:2]
        for r in c
    ]
    wm = max(all_ts) - _dt.timedelta(minutes=10)
    survivors = 0
    for r in chunks3[2]:
        ts = _dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00"))
        # a row survives iff its WINDOW (12h tumbling) hasn't been
        # evicted: window_end > watermark
        win_end_h = (ts.hour // 12 + 1) * 12
        win_end = ts.replace(
            hour=0, minute=0, second=0, microsecond=0
        ) + _dt.timedelta(hours=win_end_h)
        if win_end > wm:
            survivors += 1
    assert survivors < 200  # the probe is non-vacuous: drops expected
    assert sum(landed3.values()) == 400 + survivors


def test_streaming_page_hinkley_partials_finalize_equals_batch(
    spark, tmp_path
):
    """Streaming twin of page_hinkley_daily_volume (21st mergeable-twin
    member): the sufficient statistic is the per-DAY event count —
    mergeable sums — so per-stream-window partials merged by day and
    pushed through the same integer PH assembly (n-scaled centered
    cumsum, running min, 10·PH > Σv alarm) reproduce the batch
    monitor BIT-identically. The drift monitor every ingest pipeline
    wants incremental: each micro-batch ships day-count deltas; PH
    re-finalizes from the merged day histogram."""
    import json as _json
    import os as _os

    from pyspark.sql.types import _parse_datatype_string
    from pyspark.sql.window import Window

    # explicit per-day counts with an upward level shift on days 5-8 —
    # PH is an UPWARD-drift monitor, and the shift must clear the
    # 10·PH > Σv alarm line so the alarm column is non-vacuous
    per_day = [50, 50, 50, 50, 50, 80, 95, 110, 120]
    rows = [
        {
            "event_id": d * 1000 + k,
            "ts": f"2024-01-{1 + d:02d}"
            f"T{(k * 7) % 24:02d}:{k % 60:02d}:00.000Z",
        }
        for d, cnt in enumerate(per_day)
        for k in range(cnt)
    ]
    sentinel = {"event_id": 999999, "ts": "2024-03-01T00:00:00.000Z"}
    d = str(tmp_path / "ph_src")
    _os.makedirs(d)
    half = len(rows) // 2
    for i, chunk in enumerate([rows[:half], rows[half:], [sentinel]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i,) * 2)

    schema = _parse_datatype_string("event_id long, ts timestamp")
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
        .withWatermark("ts", "10 minutes")
    )
    day = F.expr("unix_micros(ts) div 86400000000").alias("day")
    partials = (
        stream.select("ts", day)
        .groupBy(F.window("ts", "12 hours").alias("win"), "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    q = (
        partials.writeStream.format("memory")
        .queryName("ph_partials_tbl")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    def finalize(dv):
        s = dv.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        w = Window.orderBy("day").rowsBetween(
            Window.unboundedPreceding, 0
        )
        c = dv.crossJoin(F.broadcast(s)).select(
            "day",
            "sv",
            F.sum(F.col("n") * F.col("v") - F.col("sv"))
            .over(w)
            .cast("bigint")
            .alias("cum"),
        )
        m = c.select(
            "day", "cum", F.min("cum").over(w).alias("mn"), "sv"
        )
        return sorted(
            (r.day, r.cum, r.cum - r.mn, 10 * (r.cum - r.mn) > r.sv)
            for r in m.collect()
        )

    streamed = (
        spark.table("ph_partials_tbl")
        .groupBy("day")
        .agg(F.sum("c").alias("v"))
    )
    batch = (
        spark.createDataFrame(
            [(r["ts"],) for r in rows], "ts string"
        )
        .select(F.col("ts").cast("timestamp").alias("ts"))
        .select(day)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    fs, fb = finalize(streamed), finalize(batch)
    assert fs == fb
    assert sum(1 for *_x, alarm in fs if alarm) >= 1  # non-vacuous
    assert (
        spark.table("ph_partials_tbl").select("win").distinct().count()
        >= 2
    )


def test_streaming_incremental_semantic_dedup(spark, tmp_path):
    """Continuous-ingest twin of incremental_semantic_dedup (r11): the
    corpus semantic_index is built ONCE batch-side; a file stream of
    arriving vectors is probed per micro-batch in foreachBatch —
    planted near-dups must resolve to the right corpus id in whichever
    micro-batch they arrive, decoys must keep, and the run must span
    >1 micro-batch (maxFilesPerTrigger=1 over two JSON files)."""
    import hashlib
    import json as _json

    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.dedup import (
        incremental_semantic_dedup,
        semantic_index,
    )

    dim = 8

    def mk(seed):
        return [
            (
                int.from_bytes(
                    hashlib.blake2b(
                        f"{seed}:{d}".encode(), digest_size=4
                    ).digest(),
                    "big",
                )
                % 2001
                - 1000
            )
            / 1000.0
            for d in range(dim)
        ]

    corpus = spark.createDataFrame(
        [(i, mk(i)) for i in range(1, 21)],
        "vec_id long, v array<double>",
    )
    index = semantic_index(corpus, n_planes=4).localCheckpoint()

    jit = lambda v: [v[0] + 1e-4] + v[1:]  # noqa: E731
    alt = [0.5, -0.5] * 4
    ramp = [(-1) ** d * (d + 1) / 10.0 for d in range(dim)]
    src = tmp_path / "src"
    src.mkdir()
    (src / "b1.json").write_text(
        _json.dumps({"vec_id": 101, "v": jit(mk(7))})
        + "\n"
        + _json.dumps({"vec_id": 102, "v": alt})
        + "\n"
    )
    (src / "b2.json").write_text(
        _json.dumps({"vec_id": 201, "v": jit(mk(13))})
        + "\n"
        + _json.dumps({"vec_id": 202, "v": ramp})
        + "\n"
    )
    stream = (
        spark.readStream.format("json")
        .schema(_parse_datatype_string("vec_id long, v array<double>"))
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out: dict[int, tuple] = {}
    epochs: set[int] = set()

    def probe(df, epoch_id):
        if df.isEmpty():
            return
        epochs.add(epoch_id)
        for r in incremental_semantic_dedup(index, df).collect():
            out[r.vec_id] = (r.dup_of, r.kept)

    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(probe)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert len(epochs) >= 2, "must span more than one micro-batch"
    assert out[101] == (7, False)
    assert out[201] == (13, False)
    assert out[102] == (None, True)
    assert out[202] == (None, True)
    spark.catalog.clearCache()


def test_streaming_misra_gries_merge_guarantees(spark, tmp_path):
    """Streaming twin of misra_gries_heavy_hitters (the mergeable-twin
    family's frequency member): each micro-batch folds into its OWN
    ≤ k-counter MG summary in foreachBatch, and the finalize step
    merges the per-batch summaries with misra_gries_merge — state is
    batches·k counters, never the vocabulary. The merged summary must
    keep every item above N/(k+1) (the global mass argument), never
    overcount, and respect the theorem undercount ceiling; the planted
    heavy item's exact = mg + delta identity survives the merge
    because it survived every per-batch summary."""
    import json as _json
    import os as _os

    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.sketches import (
        misra_gries,
        misra_gries_merge,
    )

    # 600 rows: 'hh' at 30% (guaranteed: 180·7 > 600), 60 tail items
    # at 7 each (all below the k=6 survival bound)
    items = ["hh"] * 180 + [f"t{i % 60}" for i in range(420)]
    # deterministic interleave so both halves carry hh and tail
    items = [items[i // 2 + (300 if i % 2 else 0)] for i in range(600)]
    d = str(tmp_path / "mg_src")
    _os.makedirs(d)
    half = len(items) // 2
    for i, chunk in enumerate([items[:half], items[half:]]):
        with open(f"{d}/f{i}.json", "w") as f:
            for it in chunk:
                f.write(_json.dumps({"item": it}) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string("item string")
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    summaries = []

    def fold(batch, epoch_id):
        summaries.append(
            misra_gries(batch, "item", k=6, n_buckets=2).collect()
        )

    q = stream.writeStream.foreachBatch(fold).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    assert len(summaries) == 2 and all(
        len(s) <= 6 and any(r.item == "hh" for r in s) for s in summaries
    )
    stacked = spark.createDataFrame(
        [r for s in summaries for r in s],
        "item string, mg_cnt bigint, delta_total bigint",
    )
    merged = {
        r.item: (r.mg_cnt, r.delta_total)
        for r in misra_gries_merge(stacked, k=6).collect()
    }
    assert len(merged) <= 6
    exact = {}
    for it in items:
        exact[it] = exact.get(it, 0) + 1
    n = len(items)
    # survival + undercount ceiling for everything emitted
    assert "hh" in merged
    for it, (mg, delta) in merged.items():
        assert mg <= exact[it]
        assert (exact[it] - mg) * 7 <= n
    # hh survived every summary it appeared in -> exact identity holds
    mg_hh, delta_hh = merged["hh"]
    assert mg_hh + delta_hh == exact["hh"] == 180


def test_streaming_psi_drift_gate_equals_batch(spark, tmp_path):
    """Streaming twin of psi_value_drift (r11 VERDICT #6): the PSI
    state is the additive (is_ref, cents) count table, so the
    additive_merge_parquet sink maintains it across micro-batches and
    psi_from_period_counts finalizes it — finalize must equal the
    batch computation EXACTLY (associative BIGINT counts), survive a
    mid-stream restart from the checkpoint, and the planted
    distribution shift must trip the drift gate (stable_lt_01 False)
    while an identical-distribution control stays stable (True) — both
    flag paths non-vacuous."""
    import os as _os
    import time as _t

    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.aggregates import (
        psi_from_period_counts,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.sinks import (
        additive_merge_parquet,
    )

    # planted drift: ref cents cycle 0..99, current cents 50..149 —
    # half the mass moves above the reference's top deciles
    rows = []
    for i in range(1200):
        rows.append((i, True, i % 100))
    for i in range(1200):
        rows.append((10_000 + i, False, 50 + (i % 100)))
    schema = _parse_datatype_string(
        "event_id bigint, is_ref boolean, c bigint"
    )
    static = spark.createDataFrame(rows, schema)

    src = str(tmp_path / "psi_src")
    mv = str(tmp_path / "psi_mv")
    ckpt = str(tmp_path / "psi_ckpt")
    _os.makedirs(src)

    def _emit(batch_rows, idx):
        chunk = spark.createDataFrame(batch_rows, schema)
        d = f"{src}/b{idx}"
        chunk.coalesce(1).write.mode("overwrite").parquet(d)
        part = [f for f in _os.listdir(d) if f.endswith(".parquet")][0]
        _os.rename(f"{d}/{part}", f"{src}/f{idx}.parquet")
        _os.utime(
            f"{src}/f{idx}.parquet", (1700000000 + idx, 1700000000 + idx)
        )
        _t.sleep(0.01)

    # 4 interleaved micro-batches, each mixing ref and current rows
    per = len(rows) // 4
    for b in range(2):
        _emit(rows[b * per : (b + 1) * per], b)

    def _run():
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(src)
            .withColumn("cnt", F.lit(1).cast("bigint"))
            .select("is_ref", "c", "cnt")
        )
        q = additive_merge_parquet(
            stream,
            mv,
            key_cols=("is_ref", "c"),
            add_cols=("cnt",),
            checkpoint_dir=ckpt,
        )
        q.awaitTermination()

    _run()  # first two micro-batches
    # mid-stream restart: two more files arrive, a NEW query resumes
    # from the same checkpoint and must merge only the new batches
    for b in range(2, 4):
        _emit(rows[b * per : (b + 1) * per], b)
    _run()

    got = {
        tuple(r)
        for r in psi_from_period_counts(spark.read.parquet(mv)).collect()
    }
    pv_batch = static.groupBy("is_ref", "c").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    want = {tuple(r) for r in psi_from_period_counts(pv_batch).collect()}
    assert got == want, "streaming finalize != batch PSI"
    assert len(got) == 10
    # the planted shift must trip the gate in every row's global flag
    assert all(r[5] is False for r in got), got
    psi_val = next(iter(got))[4]
    assert psi_val > 0.25, psi_val  # retrain territory, not borderline

    # control: identical ref/current distributions stay stable
    ctl_rows = [(i, True, i % 100) for i in range(1200)] + [
        (10_000 + i, False, i % 100) for i in range(1200)
    ]
    ctl = spark.createDataFrame(ctl_rows, schema).groupBy(
        "is_ref", "c"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    ctl_out = psi_from_period_counts(ctl).collect()
    assert all(r.stable_lt_01 for r in ctl_out)
    assert all(abs(r.psi) < 0.01 for r in ctl_out)
    spark.catalog.clearCache()
