"""The STEDI streaming workloads: ``stedi_live`` and ``stedi_replay``.

Both run ``plans.pipelines.flagship_join_as_kafka_value`` over two
NDJSON file-stream sources (customer changefeed, risk events) into
``streaming.sinks.to_parquet``. Correctness and latency are read back
from what the query leaves on disk, not from the program's own
reports:

- the checkpoint's source logs (``sources/<i>/<offset>``) and offsets
  log (``offsets/<batch>``) give the batch that consumed each input file,
- the sink log (``_spark_metadata/<batch>``) gives the parquet files
  each batch committed,
- ``commits/<batch>`` is written when the batch commits; its mtime is
  the commit time.

Both logs are compacted every few batches (``<batch>.compact`` holds
every entry so far); the source log keeps each entry's ``batchId``,
and the sink log is diffed against the files already seen.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from collections import Counter, defaultdict
from urllib.parse import unquote, urlparse

import numpy as np

from tracing import ProgressLog, cpu_busy_s

from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans import (
    pipelines,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.files import (
    load_json,
    stream_json,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming import (
    sinks,
)
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.runner import (
    QueryRunner,
)

HERE = os.path.dirname(os.path.abspath(__file__))
GEN = os.path.join(HERE, "gen.py")
KV = "key string, value string"
KINDS = ("customers", "events")

#: Seconds of live traffic before the measured window (excluded from
#: latency, still checked for correctness). After the preload batch,
#: batch times are level from the first live batch on.
LIVE_WARM_S = 3.0
#: Run-validity limits for the live loop. Past them the run measured the
#: machine, not the program, and is flagged as invalid.
MAX_GEN_LATE_MS = 250.0
MAX_BACKLOG_S = 4.0

#: Replay backlog: preloaded customers plus REPLAY_TICKS ticks of the
#: live traffic, 12,000 events. It is drained twice, after the live
#: traffic has warmed the JIT, each time capped at a fixed number of
#: files per source per trigger, so batch count and size never vary:
#: in large batches (2 of 6,000 events), where per-row work dominates,
#: and in live-sized ones (6 of 2,000 events), where per-batch work does.
REPLAY_TICKS = 120
LARGE_CAP = 60
SMALL_CAP = 20


def gen(*args: str) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, GEN, *args])


def run_gen(*args: str) -> None:
    p = gen(*args)
    if p.wait(timeout=120) != 0:
        raise RuntimeError(f"generator failed: {args[0]}")


def expected_value(email: str, birth_year: str, score: str) -> str:
    """One output row as the Kafka-value sink renders it: to_json of
    (email, birthYear, customer, score), score carried as a string."""
    return (
        f'{{"email":"{email}","birthYear":"{birth_year}",'
        f'"customer":"{email}","score":"{score}"}}'
    )


def _local(uri: str) -> str:
    return unquote(urlparse(uri).path)


def _log(dir_: str) -> list[tuple[int, list[dict]]]:
    """(batch id, entries) of a compacting metadata log, in batch order."""
    out = []
    for name in os.listdir(dir_):
        if not name[0].isdigit():
            continue  # .crc and temp files
        with open(os.path.join(dir_, name)) as fh:
            lines = fh.read().splitlines()[1:]  # first line is the version
        out.append((int(name.split(".")[0]), [json.loads(ln) for ln in lines if ln]))
    return sorted(out, key=lambda t: t[0])


def source_batches(ckpt: str) -> dict[tuple[str, str], int]:
    """(kind, file name) -> query batch that consumed it.

    A file source numbers its log by its own offset, which advances only
    when it finds new files; the offsets log (``offsets/<batch>``, one
    ``logOffset`` line per source) maps those offsets to query batches:
    batch N read offsets (previous batch's offset, N's offset]."""
    owner: dict[tuple[int, int], int] = {}
    prev: dict[int, int] = {}
    odir = os.path.join(ckpt, "offsets")
    for b in sorted(int(n) for n in os.listdir(odir) if n.isdigit()):
        with open(os.path.join(odir, str(b))) as fh:
            lines = fh.read().splitlines()[2:]  # version, batch metadata
        for i, ln in enumerate(lines):
            off = json.loads(ln)["logOffset"] if ln.strip() not in ("", "-") else -1
            for k in range(prev.get(i, -1) + 1, off + 1):
                owner[(i, k)] = b
            prev[i] = max(prev.get(i, -1), off)
    out = {}
    root = os.path.join(ckpt, "sources")
    for src in os.listdir(root):
        for _k, entries in _log(os.path.join(root, src)):
            for e in entries:
                p = _local(e["path"])
                key = (os.path.basename(os.path.dirname(p)), os.path.basename(p))
                out[key] = owner[(int(src), e["batchId"])]
    return out


def sink_batches(out_dir: str) -> dict[int, list[str]]:
    """batch -> parquet files it committed, from the sink log."""
    seen: set[str] = set()
    out = {}
    for b, entries in _log(os.path.join(out_dir, "_spark_metadata")):
        paths = {_local(e["path"]) for e in entries if e.get("action", "add") == "add"}
        out[b] = sorted(paths - seen)
        seen |= paths
    return out


def commit_ns(ckpt: str) -> dict[int, int]:
    d = os.path.join(ckpt, "commits")
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns
            for n in os.listdir(d) if n.isdigit()}


def read_values(paths: list[str]) -> list[str]:
    import pyarrow.parquet as pq

    vals: list[str] = []
    for p in paths:
        vals.extend(pq.read_table(p, columns=["value"]).column(0).to_pylist())
    return vals


class Checked:
    """Outcome of checking one query's output against the truth."""

    def __init__(self, files: list[dict], ckpt: str, out_dir: str) -> None:
        consumed = source_batches(ckpt)
        self.commits = commit_ns(ckpt)
        self.file_batch: dict[str, int | None] = {}
        versions: dict[str, list[tuple[int, str]]] = defaultdict(list)
        events: dict[str, list[tuple[int, str]]] = defaultdict(list)
        for f in files:
            b = consumed.get((f["kind"], f["name"]))
            self.file_batch[f["name"]] = b
            if b is None:
                continue
            target = versions if f["kind"] == "customers" else events
            for email, v in f["rows"]:
                target[email].append((b, v))
        expected: dict[int, Counter] = defaultdict(Counter)
        for email, evs in events.items():
            for be, score in evs:
                for bv, year in versions.get(email, ()):
                    expected[max(be, bv)][expected_value(email, year, score)] += 1
        actual = {b: Counter(read_values(p)) for b, p in sink_batches(out_dir).items()}
        self.bad_batches = set()
        matched = n_exp = n_act = 0
        for b in set(expected) | set(actual):
            e, a = expected.get(b, Counter()), actual.get(b, Counter())
            if e != a or b not in self.commits:
                self.bad_batches.add(b)
            matched += sum((e & a).values())
            n_exp += sum(e.values())
            n_act += sum(a.values())
        self.rows_expected, self.rows_out = n_exp, n_act
        self.recall = matched / n_exp if n_exp else 0.0
        self.precision = matched / n_act if n_act else 0.0
        self.checksum_expected = _checksum(expected)
        self.checksum_out = _checksum(actual)
        self.event_files = [f for f in files if f["kind"] == "events"]
        self.failed_files = [
            f["name"] for f in self.event_files
            if self.file_batch[f["name"]] is None
            or self.file_batch[f["name"]] in self.bad_batches
        ]

    def latencies_ms(self, files: list[dict]):
        """Per-event latency: commit of the batch that consumed the
        event's file minus the file's due time, one sample per event."""
        lat, weight = [], []
        for f in files:
            b = self.file_batch[f["name"]]
            if b is None or b not in self.commits:
                continue
            lat.append((self.commits[b] - f["due_ns"]) / 1e6)
            weight.append(len(f["rows"]))
        return np.repeat(np.array(lat), np.array(weight, dtype=np.int64))

    def backlog_files(self, files: list[dict], window: tuple[int, int]) -> list[int]:
        """At each commit inside ``window``: files created by then that
        no committed batch had consumed yet."""
        out = []
        for b, t in sorted(self.commits.items()):
            if not window[0] <= t <= window[1]:
                continue
            out.append(sum(
                1 for f in files
                if f["created_ns"] <= t
                and (self.file_batch[f["name"]] is None or self.file_batch[f["name"]] > b)
            ))
        return out


def _checksum(per_batch: dict[int, Counter]) -> str:
    """Order-independent checksum of every output value (sum of 64-bit
    hashes, with multiplicity)."""
    import hashlib

    total = 0
    for c in per_batch.values():
        for v, n in c.items():
            h = int.from_bytes(hashlib.blake2b(v.encode(), digest_size=8).digest(), "big")
            total = (total + n * h) % (1 << 64)
    return f"{total:016x}"


def _load_manifest(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def start_query(spark, in_dir: str, d: str, cap: int | None = None):
    """The flagship join from two file streams into the parquet sink.
    ``cap`` bounds files per source per trigger and drains what exists
    (availableNow); without it the query runs as fast as possible.
    ``stream_json`` takes no reader options, so the capped reader is
    its one-option variant."""
    for k in KINDS:
        os.makedirs(os.path.join(in_dir, k), exist_ok=True)
    if cap is None:
        raw = {k: stream_json(spark, os.path.join(in_dir, k), KV) for k in KINDS}
    else:
        raw = {
            k: spark.readStream.schema(KV).option("maxFilesPerTrigger", str(cap))
            .json(os.path.join(in_dir, k))
            for k in KINDS
        }
    out = pipelines.flagship_join_as_kafka_value(raw["customers"], raw["events"])
    return sinks.to_parquet(
        out,
        os.path.join(d, "out"),
        checkpoint_dir=os.path.join(d, "ckpt"),
        available_now=cap is not None,
    )


class Live:
    """Open loop: the generator drops files on a fixed 100 ms tick at
    1,000 events/s while the query runs with the default trigger. Its
    set-up also writes a replay backlog: the live loop runs the query
    below its capacity, so its rate is the generator's; draining the
    backlog gives the rate the query can sustain."""

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.runner = QueryRunner()

    def setup(self, spark, rep: int) -> None:
        self.d = os.path.join(self.work, f"live{rep}")
        run_gen("preload", "--out", os.path.join(self.d, "in"), "--seed", str(self.seed),
                "--manifest", os.path.join(self.d, "preload.json"),
                "--state", os.path.join(self.d, "state.json"))
        self.replay = Replay(self.d, self.seed)
        self.replay.setup()
        self.query = self.runner.add(
            "live", start_query(spark, os.path.join(self.d, "in"), self.d))
        self.runner.drain()  # preloaded customers are in join state

    def teardown(self) -> None:
        self.runner.stop_all()

    def warm_up(self, spark) -> None:
        """Nothing beyond the preload batch: the first LIVE_WARM_S of
        traffic warms the query and is left out of the latency."""

    def run(self, seconds: float, tracer, progress: ProgressLog | None,
            poll_window: tuple[float, float]) -> dict:
        """One generator run: LIVE_WARM_S of warm-up, then ``seconds``.
        With ``progress``, it is polled only inside ``poll_window``
        (seconds into the measured part), so a traced run can compare
        polled and unpolled stretches of one run."""
        manifest = os.path.join(self.d, "live.json")
        total = LIVE_WARM_S + seconds
        with tracer.span("gen.live"):
            p = gen("live", "--out", os.path.join(self.d, "in"), "--seed", str(self.seed),
                    "--state", os.path.join(self.d, "state.json"), "--manifest", manifest,
                    "--seconds", str(total))
            try:
                start = time.monotonic() + LIVE_WARM_S
                while p.poll() is None:
                    time.sleep(0.25)
                    at = time.monotonic() - start
                    if progress is not None and poll_window[0] <= at < poll_window[1]:
                        progress.poll(self.query)
                    if not self.query.isActive:
                        raise RuntimeError(f"live query stopped: {self.query.exception()}")
            finally:
                if p.poll() is None:
                    p.kill()
                p.wait()
            if p.returncode != 0:
                raise RuntimeError("live generator failed")
        with tracer.span("streaming.runner.drain"):
            self.runner.drain()
        if progress is not None:
            progress.poll(self.query)
        self.runner.stop_all()
        return _load_manifest(manifest)

    def check(self, window: dict) -> Checked:
        files = _load_manifest(os.path.join(self.d, "preload.json"))["files"] + window["files"]
        return Checked(files, os.path.join(self.d, "ckpt"), os.path.join(self.d, "out"))


def summarize_live(chk: Checked, window: dict, skip_s: float, seconds: float) -> dict:
    """Latency and backlog over the events due in
    [start + skip_s, start + skip_s + seconds) of a generator run."""
    files = window["files"]
    t0 = min(f["due_ns"] for f in files) + int(skip_s * 1e9)
    t1 = t0 + int(seconds * 1e9) - 1
    files = [f for f in files if f["due_ns"] <= t1]
    measured = [f for f in files if f["kind"] == "events" and f["due_ns"] >= t0]
    lat = chk.latencies_ms(measured)
    backlog = chk.backlog_files(files, (t0, t1))
    batches = sorted({chk.file_batch[f["name"]] for f in measured} - {None})
    return {
        "lat": lat,
        "events": int(lat.size),
        "batches": len(batches),
        "first_batch": batches[0],
        "backlog_max": max(backlog) if backlog else 0,
        "backlog_mean": float(np.mean(backlog)) if backlog else 0.0,
        "files_per_s": sum(1 for f in files if f["due_ns"] >= t0) / seconds,
    }


class Replay:
    """Drain a pre-generated backlog with a fixed per-trigger file cap;
    every drain starts from an empty checkpoint, so each does the same
    work in the same number of batches."""

    def __init__(self, work: str, seed: int) -> None:
        self.d = os.path.join(work, "replay")
        self.seed = seed

    def setup(self) -> None:
        manifest = os.path.join(self.d, "backlog.json")
        run_gen("backlog", "--out", os.path.join(self.d, "in"), "--seed", str(self.seed),
                "--manifest", manifest, "--ticks", str(REPLAY_TICKS))
        self.files = _load_manifest(manifest)["files"]
        self.events = sum(len(f["rows"]) for f in self.files if f["kind"] == "events")

    def drain(self, spark, tag: str, cap: int = LARGE_CAP) -> dict:
        """One availableNow drain into ``drain-<tag>``, ``cap`` files per
        source per trigger; wall seconds and machine CPU seconds from
        query start to termination, and the batches it committed."""
        d = os.path.join(self.d, f"drain-{tag}")
        cpu0 = cpu_busy_s()
        t0 = time.perf_counter()
        q = start_query(spark, os.path.join(self.d, "in"), d, cap=cap)
        q.awaitTermination(170)
        secs = time.perf_counter() - t0
        cpu_s = cpu_busy_s() - cpu0
        if q.isActive or q.exception() is not None:
            q.stop()
            raise RuntimeError(f"replay drain did not finish: {q.exception()}")
        return {"dir": d, "seconds": secs, "cpu_s": cpu_s,
                "batches": len(commit_ns(os.path.join(d, "ckpt")))}

    def check(self, rec: dict) -> Checked:
        return Checked(self.files, os.path.join(rec["dir"], "ckpt"), os.path.join(rec["dir"], "out"))

    def batch_twin(self, spark, tracer) -> dict:
        """Batch twins of the streaming plan over the same backlog, each
        forced to completion: decode legs -> noop, join -> noop, join ->
        parquet. Later stages contain the earlier ones, so a stage's own
        cost is its time minus the stage it extends."""
        src = {k: load_json(spark, os.path.join(self.d, "in", k), KV) for k in KINDS}
        for df in src.values():
            df.cache().count()  # time the plan, not the JSON file scan

        def timed(name: str, df, parquet: bool = False) -> float:
            with tracer.span(f"twin.{name}"):
                t0 = time.perf_counter()
                w = df.write.mode("overwrite")
                if parquet:
                    w.parquet(os.path.join(self.d, "twin-out"))
                else:
                    w.format("noop").save()
                return time.perf_counter() - t0

        c, e = src["customers"], src["events"]
        decode_s = (timed("decode.customers", pipelines.customer_decode_pipeline(c))
                    + timed("decode.events", pipelines.risk_event_pipeline(e)))
        join_s = timed("join", pipelines.flagship_join_pipeline(c, e))
        parquet_s = timed("parquet", pipelines.flagship_join_as_kafka_value(c, e), parquet=True)
        for df in src.values():
            df.unpersist()
        rows = sum(len(f["rows"]) + f["foreign"] for f in self.files)
        return {
            "operators.decode.rows_per_s": rows / decode_s,
            "operators.decode.s": decode_s,
            "operators.joins.twin_self_s": join_s - decode_s,
            "streaming.sinks.write_s": parquet_s - join_s,
        }
