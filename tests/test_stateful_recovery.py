"""Custom stateful streaming, checkpoint/restart recovery (T8), and
skew-handling join."""

import base64
import glob
import json
import os
from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.joins import (
    salted_join,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans import (
    pipelines,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.memory import (
    json_lines_dir,
    stream_from_rows,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming import (
    sinks,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
    running_risk_stats,
)

EV_SCHEMA = "user_id bigint, value double"


def test_running_risk_stats_converges_to_batch_twin(spark):
    rows = [
        {"user_id": 1, "value": 10.0},
        {"user_id": 1, "value": 20.0},
        {"user_id": 2, "value": 5.0},
    ]
    stream = stream_from_rows(spark, rows, _parse_datatype_string(EV_SCHEMA))
    out = running_risk_stats(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("risk_state")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.user_id: (r.n_events, r.total_score, r.avg_score)
        for r in spark.sql(
            "SELECT * FROM risk_state ORDER BY user_id"
        ).collect()
    }
    assert got == {1: (2, 30.0, 15.0), 2: (1, 5.0, 5.0)}


def test_stateful_state_carries_across_batches(spark, tmp_path):
    """Two replays through the SAME checkpoint: the second batch's
    output must include the first batch's counts (real cross-batch
    state, not per-batch aggregation)."""
    d = json_lines_dir([{"user_id": 1, "value": 10.0}])
    schema = _parse_datatype_string(EV_SCHEMA)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def run_once():
        stream = spark.readStream.format("json").schema(schema).load(d)
        out = running_risk_stats(stream)
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda df, _eid: df.write.mode("append").json(out_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # new file arrives → restart from checkpoint → state must resume
    with open(f"{d}/part-1.json", "w") as f:
        f.write(json.dumps({"user_id": 1, "value": 30.0}) + "\n")
    run_once()

    rows = spark.read.json(out_dir).collect()
    by_n = {r.n_events: (r.total_score, r.avg_score) for r in rows}
    assert by_n[1] == (10.0, 10.0)  # after batch 1
    assert by_n[2] == (40.0, 20.0)  # resumed state + batch 2


def test_get_spark_ships_checkpoint_defaults(spark):
    """The session factory ships the streaming state defaults: RocksDB
    state with changelog checkpointing, and checkpoint files written
    through the FileSystem API (no forked helpers per file without the
    native Hadoop library). A caller whose extra_conf sets unrelated
    keys, as perfbench's does, keeps all three."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark import (
        get_spark,
    )

    shipped = {
        "spark.sql.streaming.stateStore.providerClass": "org.apache.spark.sql."
        "execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.checkpointFileManagerClass": "org.apache.spark.sql."
        "execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    again = get_spark(
        app_name="stedi-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false", "spark.sql.session.timeZone": "UTC"},
    )
    for s in (spark, again):
        assert {k: s.conf.get(k) for k in shipped} == shipped


def test_codegen_cache_holds_more_than_100_classes(spark):
    """The session factory ships a 1,000-entry generated-class cache, so
    a working set above Spark's default 100 entries (a curation pass
    cycles through 101-200 classes) compiles once per JVM: a second
    round of 150 queries with distinct generated code recompiles
    nothing. At 100 entries the round evicts its own classes in order
    and every query of the second round misses."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark import (
        get_spark,
    )

    again = get_spark(
        app_name="stedi-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false", "spark.sql.session.timeZone": "UTC"},
    )
    for s in (spark, again):
        assert s.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_round():
        # integer literals are inlined into the generated source, so
        # each i yields a distinct class
        for i in range(150):
            spark.range(8).selectExpr(f"id * {i} + {i} AS x").collect()

    one_round()
    before = compiles.getCount()
    one_round()
    assert compiles.getCount() == before


def test_default_cpus_follows_affinity():
    """Without SPARK_GRAFT_CPUS the fallback session is sized to the
    cores this process may run on; the variable still overrides it."""
    import os
    import subprocess
    import sys

    probe = (
        "from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark"
        " import session; print(session.DEFAULT_CPUS)"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}

    def default_cpus(**extra):
        out = subprocess.run(
            [sys.executable, "-c", probe],
            env={**env, **extra},
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True,
            text=True,
            check=True,
        )
        return int(out.stdout.strip())

    assert default_cpus() == len(os.sched_getaffinity(0))
    assert default_cpus(SPARK_GRAFT_CPUS="3") == 3


def test_flagship_restart_no_duplicates(spark, tmp_path):
    """T8, stateless leg: kill + resume the customer decode pipeline
    from its checkpoint — already-committed inputs must not be
    re-emitted (exactly-once landing). The stateful flagship join's
    restart is test_flagship_join_restart_exactly_once."""
    import base64

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans import (
        pipelines,
    )

    b64 = lambda s: base64.b64encode(s.encode()).decode()

    def envelope(name, email):
        element = b64(
            json.dumps(
                {"customerName": name, "email": email, "phone": "1", "birthDay": "1990-01-01"}
            )
        )
        return {
            "key": b64("Customer"),
            "value": json.dumps(
                {
                    "key": b64("Customer"),
                    "existType": "NONE",
                    "Ch": False,
                    "Incr": False,
                    "zSetEntries": [{"element": element, "Score": "0.0"}],
                }
            ),
        }

    schema = _parse_datatype_string("key string, value string")
    d = json_lines_dir([envelope("A", "a@test.com")])
    ckpt, out_dir = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def run_once():
        raw = spark.readStream.format("json").schema(schema).load(d)
        out = pipelines.customer_decode_pipeline(raw)
        q = (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    with open(f"{d}/part-1.json", "w") as f:
        f.write(json.dumps(envelope("B", "b@test.com")) + "\n")
    run_once()

    landed = spark.read.parquet(out_dir)
    emails = sorted(r.email for r in landed.collect())
    assert emails == ["a@test.com", "b@test.com"]  # each exactly once


JOIN_FORMAT = "spark.sql.streaming.join.stateFormatVersion"
FORMAT2_STORES = {
    f"{side}-{kind}"
    for side in ("left", "right")
    for kind in ("keyToNumValues", "keyWithIndexToValue")
}


def _b64(s):
    return base64.b64encode(s.encode()).decode()


def _customer(i):
    """Changefeed record registering customer i (c<i>@test.com)."""
    element = _b64(
        json.dumps(
            {
                "customerName": f"C{i}",
                "email": f"c{i}@test.com",
                "phone": str(i),
                "birthDay": f"{1950 + i}-01-01",
            }
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


def _event(i, score):
    """Risk event for customer i."""
    who = f"c{i}@test.com"
    return {
        "key": who,
        "value": json.dumps({"customer": who, "score": str(score), "riskDate": "2020-09-14"}),
    }


class _FlagshipJoin:
    """The checkpointed flagship stream-stream join over two JSON
    directories (customers, events) into the parquet sink. Each run
    drains the files added so far (availableNow), one file per source
    per micro-batch, in the order they were added."""

    schema = "key string, value string"

    def __init__(self, spark, root):
        self.spark = spark
        self.src = {k: str(root / k) for k in ("customers", "events")}
        for d in self.src.values():
            os.makedirs(d)
        self.ckpt, self.out_dir = str(root / "ckpt"), str(root / "out")
        self.n_files = {"customers": 0, "events": 0}

    def add_file(self, kind, rows):
        n = self.n_files[kind]
        path = f"{self.src[kind]}/part-{n:03d}.json"
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        # one file per trigger, taken in this order
        os.utime(path, (1700000000 + n,) * 2)
        self.n_files[kind] += 1

    def run(self):
        cust, ev = (
            self.spark.readStream.format("json")
            .schema(self.schema)
            .option("maxFilesPerTrigger", "1")
            .load(self.src[kind])
            for kind in ("customers", "events")
        )
        out = pipelines.flagship_join_as_kafka_value(cust, ev)
        sinks.to_parquet(
            out, self.out_dir, checkpoint_dir=self.ckpt, available_now=True
        ).awaitTermination()

    def landed(self):
        """Multiset of the `value`s in the sink."""
        return Counter(r.value for r in self.spark.read.parquet(self.out_dir).collect())

    def twin(self):
        """Multiset of the batch twin's `value`s over every input file."""
        read = self.spark.read.schema(self.schema)
        df = pipelines.flagship_join_as_kafka_value(
            read.json(self.src["customers"]), read.json(self.src["events"])
        )
        return Counter(r.value for r in df.collect())

    def offset_conf(self, batch):
        """The session conf recorded in `offsets/<batch>` (line 2)."""
        with open(f"{self.ckpt}/offsets/{batch}") as f:
            return json.loads(f.read().splitlines()[1])["conf"]

    def stores(self):
        """Every state store of the join: the directories under
        `state/0` that hold changelog files."""
        return sorted(
            {
                os.path.dirname(p)
                for p in glob.glob(f"{self.ckpt}/state/0/**/*.changelog", recursive=True)
            }
        )


def test_flagship_join_restart_exactly_once(spark, tmp_path):
    """T8, stateful flagship: the checkpointed stream-stream join of
    customers and risk events lands in the parquet sink one file pair
    per micro-batch. After 12 batches the query stops and its last
    `commits/<N>` file is deleted: a crash after batch N ran but
    before it committed. Two restarts from the same checkpoint then
    add files; the first restores the join state from a RocksDB
    snapshot plus the changelogs after it (on the shipped defaults: one
    store per partition) and replays batch N. The landed `value`
    multiset must equal the batch twin over every input: batch N lands
    once, and customers stored before a restart still join events that
    arrive after it."""
    import time

    q = _FlagshipJoin(spark, tmp_path)
    # run 1: customer i arrives in batch i; batch i's events join it,
    # an earlier customer held in state, and nobody
    for i in range(12):
        q.add_file("customers", [_customer(i)])
        q.add_file("events", [_event(i, i), _event(i // 2, 100 + i), _event(99, i)])
    q.run()
    commits = sorted(int(f) for f in os.listdir(f"{q.ckpt}/commits") if f.isdigit())
    assert commits == list(range(12)), commits
    # a crash before the commit leaves neither the file nor its checksum
    for name in (f"{commits[-1]}", f".{commits[-1]}.crc"):
        if os.path.exists(f"{q.ckpt}/commits/{name}"):
            os.remove(f"{q.ckpt}/commits/{name}")
    # replaying batch 11 must load state version 11: a snapshot plus the
    # changelogs after it. With changelog checkpointing the snapshot is
    # uploaded by the state store's maintenance task (every 60 s by
    # default), so wait until every store has one.
    stores = q.stores()
    assert stores == [f"{q.ckpt}/state/0/{p}" for p in range(4)], stores
    deadline = time.monotonic() + 180
    while not all(glob.glob(f"{d}/*.zip") for d in stores) and time.monotonic() < deadline:
        time.sleep(1)
    assert all(glob.glob(f"{d}/*.zip") for d in stores), stores

    # run 2: events for customers stored before the crash, a new
    # customer, and a re-emitted customer version (joins twice after)
    q.add_file("customers", [_customer(12)])
    q.add_file("customers", [_customer(1)])
    q.add_file("events", [_event(0, 200), _event(11, 201), _event(12, 202)])
    q.add_file("events", [_event(1, 203), _event(5, 204)])
    q.run()

    # run 3: events for customers from both earlier runs, and one whose
    # customer arrives in this run's batch
    q.add_file("customers", [_customer(13)])
    q.add_file("events", [_event(1, 300), _event(12, 301), _event(13, 302), _event(3, 303)])
    q.run()

    landed = q.landed()
    assert landed == q.twin()
    scores = Counter(json.loads(v)["score"] for v in landed.elements())
    # customers from run 1 join events from each later run; the batch
    # replayed after the crash landed once and stored its customer once;
    # the re-emitted customer joins twice
    assert scores["200"] == scores["303"] == 1
    assert scores["11"] == scores["201"] == 1
    assert scores["203"] == scores["300"] == 2


def test_new_checkpoints_use_one_join_store_per_partition(spark, tmp_path):
    """A join started on the shipped session records state format 3 in
    its offset log and keeps its state in one RocksDB store per
    shuffle partition: the partition directory is the store, with no
    per-side keyToNumValues/keyWithIndexToValue stores (format 2's
    four). A session built with perfbench-shaped extra_conf keeps the
    format."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark import (
        get_spark,
    )

    q = _FlagshipJoin(spark, tmp_path)
    for i in range(3):
        q.add_file("customers", [_customer(i)])
        q.add_file("events", [_event(i, i), _event(0, 10 + i)])
    q.run()

    assert q.offset_conf(0)[JOIN_FORMAT] == "3"
    assert q.stores() == [f"{q.ckpt}/state/0/{p}" for p in range(4)]
    nested = {os.path.basename(d) for d in glob.glob(f"{q.ckpt}/state/0/*/*")}
    assert not nested & FORMAT2_STORES, nested
    assert q.landed() == q.twin()

    again = get_spark(
        app_name="stedi-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(tmp_path / "local"),
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData",
        },
    )
    assert again.conf.get(JOIN_FORMAT) == "3"


def test_format2_checkpoint_restarts_on_format2(spark, tmp_path):
    """A checkpoint started under join state format 2 (every checkpoint
    written before format 3 shipped) restarts on the shipped session
    and stays on format 2: Spark takes the format from the offset log,
    so the later batches record "2" and write the same four stores per
    partition. The landed `value` multiset equals the batch twin, and
    customers stored before the restart join events that arrive after
    it."""
    q = _FlagshipJoin(spark, tmp_path)
    for i in range(4):
        q.add_file("customers", [_customer(i)])
        q.add_file("events", [_event(i, i), _event(i // 2, 100 + i)])
    shipped = spark.conf.get(JOIN_FORMAT)
    spark.conf.set(JOIN_FORMAT, "2")
    try:
        q.run()
    finally:
        spark.conf.set(JOIN_FORMAT, shipped)
    before = q.stores()

    q.add_file("customers", [_customer(4)])
    q.add_file("events", [_event(0, 200), _event(3, 201), _event(4, 202)])
    q.add_file("events", [_event(1, 203)])
    q.run()

    batches = sorted(int(f) for f in os.listdir(f"{q.ckpt}/offsets") if f.isdigit())
    assert batches == list(range(6)), batches
    assert [q.offset_conf(b)[JOIN_FORMAT] for b in batches] == ["2"] * 6
    stores = q.stores()
    assert stores == before
    assert stores == sorted(
        f"{q.ckpt}/state/0/{p}/{s}" for p in range(4) for s in FORMAT2_STORES
    )
    landed = q.landed()
    assert landed == q.twin()
    scores = Counter(json.loads(v)["score"] for v in landed.elements())
    assert scores["200"] == scores["201"] == scores["202"] == scores["203"] == 1


def test_dedup_guard_suppresses_replays(spark, tmp_path):
    """Idempotency guard: replayed/old sequence ids are suppressed
    across micro-batches (state remembers the per-key high watermark)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        dedup_guard,
    )

    schema = _parse_datatype_string("user_id bigint, event_id bigint")
    d = json_lines_dir(
        [
            {"user_id": 1, "event_id": 10},
            {"user_id": 1, "event_id": 11},
            {"user_id": 2, "event_id": 5},
        ]
    )
    ckpt, out_dir = str(tmp_path / "ck"), str(tmp_path / "out")

    def run(extra=None):
        if extra:
            import uuid as _u

            with open(f"{d}/p{_u.uuid4().hex}.json", "w") as f:
                for r in extra:
                    f.write(json.dumps(r) + "\n")
        stream = spark.readStream.format("json").schema(schema).load(d)
        q = (
            dedup_guard(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _e: df.write.mode("append").json(out_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # batch 2: one replay (11), one stale (9), one genuinely new (12)
    run(
        [
            {"user_id": 1, "event_id": 11},
            {"user_id": 1, "event_id": 9},
            {"user_id": 1, "event_id": 12},
        ]
    )
    rows = sorted(
        (r.user_id, r.event_id) for r in spark.read.json(out_dir).collect()
    )
    assert rows == [(1, 10), (1, 11), (1, 12), (2, 5)]


def test_upsert_sink_scd_semantics(spark, tmp_path):
    """foreachBatch MERGE emulation: a second batch with the same key
    REPLACES the row (SCD-1), new keys append."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.sinks import (
        upsert_parquet,
    )

    schema = _parse_datatype_string("user_id bigint, value double")
    d = json_lines_dir([{"user_id": 1, "value": 10.0}, {"user_id": 2, "value": 20.0}])
    path, ckpt = str(tmp_path / "target"), str(tmp_path / "ck")

    def run(rows=None):
        if rows:
            import uuid as _u

            with open(f"{d}/part-{_u.uuid4().hex}.json", "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
        stream = spark.readStream.format("json").schema(schema).load(d)
        q = upsert_parquet(stream, path, ("user_id",), checkpoint_dir=ckpt)
        q.awaitTermination()

    run()
    run([{"user_id": 1, "value": 99.0}, {"user_id": 3, "value": 30.0}])
    got = {r.user_id: r.value for r in spark.read.parquet(path).collect()}
    assert got == {1: 99.0, 2: 20.0, 3: 30.0}


def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame(
        [(1, i) for i in range(1000)] + [(2, i) for i in range(10)],
        "k long, payload long",
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "none")], "sk long, tag string")
    plain = big.join(small, F.col("k") == F.col("sk")).select("k", "payload", "tag")
    salted = salted_join(big, small, "k", "sk", salt_buckets=8).select(
        "k", "payload", "tag"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_content_salt_stable_under_repartition(spark):
    """The salt must be a pure function of row content — identical for
    the same row regardless of partition layout (retries, speculative
    tasks, explicit repartitioning)."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators.joins import (
        content_salt,
    )

    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(500)], "k long, payload string"
    )
    a = {r.k: r.s for r in df.select("k", content_salt(df, 16).alias("s")).collect()}
    rep = df.repartition(7, "payload")
    b = {r.k: r.s for r in rep.select("k", content_salt(rep, 16).alias("s")).collect()}
    assert a == b
    assert set(a.values()) <= set(range(16)) and len(set(a.values())) > 1


def test_dedup_guard_intra_batch_duplicates(spark, tmp_path):
    """The at-least-once retry case WITHIN one micro-batch: duplicate
    sequence ids arriving together must be emitted exactly once."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        dedup_guard,
    )

    schema = _parse_datatype_string("user_id bigint, event_id bigint")
    d = json_lines_dir(
        [
            {"user_id": 1, "event_id": 10},
            {"user_id": 1, "event_id": 10},
            {"user_id": 1, "event_id": 12},
            {"user_id": 1, "event_id": 12},
            {"user_id": 1, "event_id": 10},
        ]
    )
    stream = spark.readStream.format("json").schema(schema).load(d)
    q = (
        dedup_guard(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("guard_intra")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(
        (r.user_id, r.event_id)
        for r in spark.sql("SELECT * FROM guard_intra").collect()
    )
    assert rows == [(1, 10), (1, 12)]


def test_running_risk_stats_ttl_evicts_idle_state(spark, tmp_path):
    """With idle_ttl_ms set, a key idle past the TTL is evicted: its
    next event restarts the running aggregate from zero instead of
    resuming the all-time totals."""
    import time as _t

    import glob as _glob

    schema = _parse_datatype_string(EV_SCHEMA)
    d = json_lines_dir([{"user_id": 1, "value": 10.0}])
    ckpt, out_dir = str(tmp_path / "ck"), str(tmp_path / "out")

    def emitted():
        rows = []
        for p in _glob.glob(f"{out_dir}/*.json"):
            with open(p) as f:
                rows += [json.loads(line) for line in f if line.strip()]
        return rows

    def run(extra, done, tick=False):
        import uuid as _u

        if extra:
            with open(f"{d}/p{_u.uuid4().hex}.json", "w") as f:
                for r in extra:
                    f.write(json.dumps(r) + "\n")
        stream = spark.readStream.format("json").schema(schema).load(d)
        # eviction markers make state retirement OBSERVABLE: without
        # them the eviction happens in a timeout-only micro-batch that
        # emits nothing, and the only way to wait for it is a sleep —
        # which races on a loaded box.
        out = running_risk_stats(stream, idle_ttl_ms=500, emit_eviction_marker=True)

        def sink(df, _e):
            if not df.isEmpty():  # timeout-only batches may emit nothing
                df.write.mode("append").json(out_dir)

        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        # Neither availableNow nor processAllAvailable() quiesces while
        # a processing-time timeout is pending — poll the sink for the
        # expected condition, then stop. With tick=True, feed dummy
        # events for throwaway keys while waiting: processing-time
        # timeouts are only EVALUATED when a micro-batch runs, and on a
        # starved box the engine's own idle timer batches can lag
        # arbitrarily — a data batch forces the evaluation.
        deadline = _t.time() + 120
        n_tick = 0
        while not done(emitted()) and _t.time() < deadline:
            _t.sleep(0.5)
            if tick and n_tick < 40:
                n_tick += 1
                with open(f"{d}/tick{_u.uuid4().hex}.json", "w") as f:
                    f.write(json.dumps({"user_id": 1000 + n_tick, "value": 0.0}) + "\n")
        q.stop()
        q.awaitTermination()
        assert done(emitted()), emitted()

    def tombstoned(rows):
        return any(r["user_id"] == 1 and r["n_events"] == -1 for r in rows)

    run(None, lambda rows: len(rows) >= 1)
    _t.sleep(2.0)  # key 1 idles past its 500ms TTL
    # feed key 2 to trigger a batch; hold the query open until key 1's
    # eviction tombstone is actually observed (no timing guess), forcing
    # batches with tick events so timeout evaluation can't starve
    run([{"user_id": 2, "value": 5.0}], tombstoned, tick=True)
    run(
        [{"user_id": 1, "value": 30.0}],
        lambda rows: any(
            r["user_id"] == 1 and r["n_events"] == 1 and r["total_score"] == 30.0
            for r in rows
        ),
    )
    u1 = sorted(
        (r["n_events"], r["total_score"])
        for r in emitted()
        if r["user_id"] == 1 and r["n_events"] > 0
    )
    # first batch: (1, 10.0); post-eviction: restarted at (1, 30.0) — NOT (2, 40.0)
    assert u1 == [(1, 10.0), (1, 30.0)]
    assert tombstoned(emitted())


def test_funnel_tracker_matches_batch_funnel(spark, tmp_path):
    """Replaying a time-ordered event stream through the stateful funnel
    tracker in FOUR micro-batches must converge to exactly the batch
    funnel's per-user stage stamps (streaming/batch equivalence — the
    strongest check a non-SQL streaming op has)."""
    import os as _os
    import time as _t

    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        funnel_stage_tracker,
    )

    # deterministic corpus: 40 users, event pattern varies by user id
    types = ["view", "click", "purchase", "error", "view"]
    rows = []
    for u in range(40):
        for k in range(10):
            rows.append(
                {
                    "user_id": u,
                    "event_type": types[(u * 3 + k * (u % 4 + 1)) % len(types)],
                    "ts": f"2024-01-01T00:{k:02d}:{(u * 7) % 60:02d}.000Z",
                }
            )
    rows.sort(key=lambda r: r["ts"])
    d = str(tmp_path / "funnel_stream")
    _os.makedirs(d)
    quarter = (len(rows) + 3) // 4
    for i in range(4):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in rows[i * quarter : (i + 1) * quarter]:
                f.write(json.dumps(r) + "\n")
        # distinct mtimes: the file source processes oldest-first
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))
        _t.sleep(0.01)

    schema = _parse_datatype_string("user_id bigint, event_type string, ts timestamp")
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    q = (
        funnel_stage_tracker(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_stream_tbl")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # the memory sink appends every update; the user's FINAL stamps are
    # the highest-stage emission (stage only ever advances)
    got = {}
    for r in sorted(
        spark.sql("SELECT * FROM funnel_stream_tbl").collect(), key=lambda r: r.stage
    ):
        got[r.user_id] = (r.t1_us, r.t2_us, r.t3_us)

    batch = spark.createDataFrame(
        [(r["user_id"], r["event_type"], r["ts"]) for r in rows],
        "user_id bigint, event_type string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    w = Window.partitionBy("user_id")
    b = batch.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    b = b.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    b = b.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    expected = {}
    for r in (
        b.select(
            "user_id",
            F.unix_micros("t1").alias("t1"),
            F.unix_micros("t2").alias("t2"),
            F.unix_micros("t3").alias("t3"),
        )
        .distinct()
        .collect()
    ):
        if r.t1 is not None:  # users who never entered the funnel emit nothing
            expected[r.user_id] = (r.t1, r.t2, r.t3)
    assert got == expected


def test_transition_tracker_matches_batch(spark, tmp_path):
    """Replaying a time-ordered event stream through the stateful
    transition tracker in FOUR micro-batches, then summing the emitted
    per-batch counts, must equal the batch lead()-window transition
    matrix exactly (streaming/batch equivalence)."""
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        transition_tracker,
    )

    types = ["view", "click", "purchase", "error", "signup"]
    rows = []
    for u in range(30):
        for k in range(12):
            rows.append(
                {
                    "user_id": u,
                    "event_type": types[(u * 5 + k * (u % 3 + 1)) % len(types)],
                    "ts": f"2024-01-01T00:{k:02d}:{(u * 11) % 60:02d}.000Z",
                    "event_id": u * 12 + k,
                }
            )
    rows.sort(key=lambda r: r["ts"])
    d = str(tmp_path / "trans_stream")
    _os.makedirs(d)
    quarter = (len(rows) + 3) // 4
    for i in range(4):
        with open(f"{d}/f{i}.json", "w") as f:
            for r in rows[i * quarter : (i + 1) * quarter]:
                f.write(json.dumps(r) + "\n")
        _os.utime(f"{d}/f{i}.json", (1700000000 + i, 1700000000 + i))

    schema = _parse_datatype_string(
        "user_id bigint, event_type string, ts timestamp, event_id bigint"
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    q = (
        transition_tracker(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("trans_stream_tbl")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    streamed = {
        (r.from_type, r.to_type): r.total
        for r in spark.sql(
            "SELECT from_type, to_type, SUM(n) AS total"
            " FROM trans_stream_tbl GROUP BY from_type, to_type"
        ).collect()
    }

    batch = spark.createDataFrame(
        [(r["user_id"], r["event_type"], r["ts"]) for r in rows],
        "user_id bigint, event_type string, ts_s string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_type")
    expected = {
        (r.from_type, r.to_type): r.total
        for r in batch.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("total"))
        .collect()
    }
    assert streamed == expected and len(expected) > 5


def test_transition_tracker_recovers_state_across_restart(spark, tmp_path):
    """Kill + resume the transition tracker from its checkpoint: the
    per-user (last_type, last_ts) state must RESTORE, so the first
    event of the resumed run forms a transition with the last event of
    the killed run — summed counts equal the batch matrix over the full
    event sequence."""
    import os as _os

    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        transition_tracker,
    )

    def ev(event_id, event_type, minute):
        return {
            "user_id": 1,
            "event_type": event_type,
            "ts": f"2024-01-01T00:{minute:02d}:00.000Z",
            "event_id": event_id,
        }

    rows1 = [ev(0, "view", 0), ev(1, "click", 1)]
    rows2 = [
        # first event after restart: transition (click -> purchase)
        # exists ONLY if state survived the restart
        ev(2, "purchase", 2),
    ]
    d = str(tmp_path / "trans_restart")
    _os.makedirs(d)
    ckpt = str(tmp_path / "ckpt")
    schema = _parse_datatype_string(
        "user_id bigint, event_type string, ts timestamp, event_id bigint"
    )

    out_dir = str(tmp_path / "trans_out")

    def run_once():
        # memory sink cannot recover from a checkpoint; foreachBatch →
        # parquet append is the restart-capable landing pattern
        stream = spark.readStream.format("json").schema(schema).load(d)

        def land(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            transition_tracker(stream)
            .writeStream.outputMode("update")
            .foreachBatch(land)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with open(f"{d}/f0.json", "w") as f:
        for r in rows1:
            f.write(json.dumps(r) + "\n")
    run_once()
    first = {
        (r.from_type, r.to_type) for r in spark.read.parquet(out_dir).collect()
    }
    assert first == {("view", "click")}

    with open(f"{d}/f1.json", "w") as f:
        for r in rows2:
            f.write(json.dumps(r) + "\n")
    run_once()
    emitted = spark.read.parquet(out_dir)
    total = {
        (r.from_type, r.to_type): r.total
        for r in emitted.groupBy("from_type", "to_type")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    assert total == {("view", "click"): 1, ("click", "purchase"): 1}


def test_transition_tracker_breaks_ts_ties_like_batch(spark, tmp_path):
    """Events tied on event time thread in event_id order, as the batch
    twin's (ts, event_id) window orders them, whatever order they
    arrive in: one user's (0 signup t0), (2 click t1), (1 view t1)
    arriving in that order give signup->view and view->click, in the
    stream as in plans.warehouse.q_event_transition_matrix."""
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans.warehouse import (
        q_event_transition_matrix,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        transition_tracker,
    )

    events = spark.createDataFrame(
        [
            (7, "signup", "2024-01-01 00:00:00", 0),
            (7, "click", "2024-01-01 00:01:00", 2),
            (7, "view", "2024-01-01 00:01:00", 1),
        ],
        "user_id bigint, event_type string, ts_s string, event_id bigint",
    ).select("user_id", "event_type", F.to_timestamp("ts_s").alias("ts"), "event_id")
    path = str(tmp_path / "events.parquet")
    events.coalesce(1).write.parquet(path)  # one file, in arrival order

    q = (
        transition_tracker(spark.readStream.schema(events.schema).parquet(path))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("trans_ts_ties")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.from_type, r.to_type): r.n
        for r in spark.sql("SELECT * FROM trans_ts_ties").collect()
    }
    batch = {
        (r.from_type, r.to_type): r.n_transitions
        for r in q_event_transition_matrix(spark, str(tmp_path)).collect()
    }
    assert batch == {("signup", "view"): 1, ("view", "click"): 1}
    assert streamed == batch


def test_windowed_topk_recovers_counts_across_restart(spark, tmp_path):
    """Kill + resume windowed_topk from its checkpoint MID-WINDOW: the
    window's partial counts must restore, so the top-k emitted after
    the watermark closes the window reflects events from BOTH runs —
    the pre-restart majority type can only win if its pre-restart
    counts survived."""
    import os as _os
    import time as _t

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        windowed_topk,
    )

    # run 1: 3 views, 1 click in window [00:00, 00:10) — no emission
    rows1 = [
        {"event_type": "view", "ts": "2024-01-01T00:00:10.000Z"},
        {"event_type": "view", "ts": "2024-01-01T00:01:00.000Z"},
        {"event_type": "view", "ts": "2024-01-01T00:02:00.000Z"},
        {"event_type": "click", "ts": "2024-01-01T00:03:00.000Z"},
    ]
    # run 2: 2 clicks in the SAME window + a sentinel that closes it.
    # view wins 3-3 on the count tie ONLY via (n desc, type asc) if the
    # restored state still holds run 1's counts; without recovery the
    # window would report click 2, view 0.
    rows2 = [
        {"event_type": "click", "ts": "2024-01-01T00:04:00.000Z"},
        {"event_type": "click", "ts": "2024-01-01T00:05:00.000Z"},
        {"event_type": "view", "ts": "2024-01-01T12:00:00.000Z"},  # sentinel
    ]
    d = str(tmp_path / "topk_restart")
    _os.makedirs(d)
    ckpt = str(tmp_path / "topk_ckpt")
    out_dir = str(tmp_path / "topk_out")
    schema = _parse_datatype_string("event_type string, ts timestamp")

    def land(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    with open(f"{d}/f0.json", "w") as f:
        for r in rows1:
            f.write(json.dumps(r) + "\n")
    stream = spark.readStream.format("json").schema(schema).load(d)
    q = (
        windowed_topk(stream, window_minutes=10, delay="10 minutes", k=2)
        .writeStream.outputMode("append")
        .foreachBatch(land)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    with open(f"{d}/f1.json", "w") as f:
        for r in rows2:
            f.write(json.dumps(r) + "\n")
    stream = spark.readStream.format("json").schema(schema).load(d)
    q = (
        windowed_topk(stream, window_minutes=10, delay="10 minutes", k=2)
        .writeStream.outputMode("append")
        .foreachBatch(land)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        for _ in range(100):
            try:
                if spark.read.parquet(out_dir).count() >= 2:
                    break
            except Exception:
                pass
            _t.sleep(0.2)
            q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    got = {
        (r.window_start.isoformat(), r.rank): (r.event_type, r.n)
        for r in spark.read.parquet(out_dir).collect()
        if r.window_start.isoformat().startswith("2024-01-01T00:0")
    }
    assert got == {
        ("2024-01-01T00:00:00", 1): ("click", 3),
        ("2024-01-01T00:00:00", 2): ("view", 3),
    }, got


def test_wasserstein_twin_restart_mid_stream(spark, tmp_path):
    """VERDICT r9 §6: a mergeable twin killed MID-STREAM and restarted
    from its checkpoint must still finalize to the batch answer. The
    Wasserstein histogram twin runs over half its input, stops, is
    relaunched on the same checkpoint for the rest + sentinels, and
    the merged per-window partials landed in the parquet sink finalize
    to the identical exact-integer W1 the one-shot batch computes —
    checkpoint recovery composing with the additive-merge contract,
    not just with exactly-once landing (test_flagship_restart covers
    that half)."""
    import os as _os

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
    # the restart CHECKPOINTS the watermark: the second run's first
    # batch filters against max(run-1 ts) − delay, so the chunks must
    # be event-time ordered (a stream's natural shape) or the whole
    # second chunk is dropped as late — measured here, the restart
    # flavor of the one-batch-lag fact (NOTES r9)
    rows.sort(key=lambda r: r["ts"])
    sent1 = dict(rows[0], event_id=999998, ts="2024-03-01T00:00:00.000Z")
    sent2 = dict(rows[0], event_id=999999, ts="2024-04-01T00:00:00.000Z")
    d = str(tmp_path / "src")
    _os.makedirs(d)
    half = len(rows) // 2

    def add_file(idx, chunk):
        with open(f"{d}/f{idx}.json", "w") as f:
            for r in chunk:
                f.write(json.dumps(r) + "\n")
        _os.utime(f"{d}/f{idx}.json", (1700000000 + idx,) * 2)

    schema = _parse_datatype_string(
        "event_id long, event_type string, value double, ts timestamp"
    )
    ckpt, out_dir = str(tmp_path / "ckpt"), str(tmp_path / "out")
    cv = F.round(F.col("value") * 100).cast("bigint").alias("cv")
    a = F.when(F.col("event_type") == "click", 1).otherwise(0).alias("a")

    def run_once():
        stream = (
            spark.readStream.format("json")
            .schema(schema)
            .option("maxFilesPerTrigger", "1")
            .load(d)
            .withWatermark("ts", "10 minutes")
        )
        partials = (
            stream.select("ts", cv, a)
            .groupBy(F.window("ts", "12 hours").alias("win"), "cv")
            .agg(
                F.sum("a").alias("t1"),
                F.sum(1 - F.col("a")).alias("t2"),
            )
            .select("win", "cv", "t1", "t2")
        )
        q = (
            partials.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: first (event-time-earliest) half, then "crash" (stop with
    # aggregation state + watermark checkpointed)
    add_file(0, rows[:half])
    run_once()
    # run 2: rest + far-future sentinel (closes all data windows)
    add_file(2, rows[half:])
    add_file(3, [sent1])
    run_once()
    # run 3: second sentinel — the measured one-batch eviction lag means
    # windows closed by sent1 flush on the NEXT batch after it
    add_file(4, [sent2])
    run_once()

    landed = (
        spark.read.parquet(out_dir)
        # sentinel windows (Mar+) may or may not have flushed yet —
        # out of scope; the data windows are all in Jan
        .filter(F.col("win.end") < F.lit("2024-02-01").cast("timestamp"))
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

    def finalize(hist):
        tot = hist.agg(F.sum("t1").alias("n1"), F.sum("t2").alias("n2"))
        w = Window.orderBy("cv").rowsBetween(Window.unboundedPreceding, 0)
        full = hist.crossJoin(F.broadcast(tot)).select(
            "cv",
            "n1",
            "n2",
            F.sum(F.col("t1") * F.col("n2") - F.col("t2") * F.col("n1"))
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
        return (r.n1, r.n2, str(r.wfp))

    sc = {r.cv: (r.t1, r.t2) for r in landed.collect()}
    bc = {r.cv: (r.t1, r.t2) for r in batch_hist.collect()}
    assert sum(v[0] + v[1] for v in sc.values()) == 800  # sentinels never land
    assert sc == bc
    assert finalize(landed) == finalize(batch_hist)
