"""Custom Python Data Source SINK (Spark 4 DataSource API): an NDJSON
writer with two-phase commit — the writer-side twin of the custom
`stedi_sim` reader (`sources/simulator.py`), completing the Python
DataSource surface (batch read / stream read / batch write / stream
write).

The reference writes its output to Kafka and the console
(`sparkpykafkajoin.py:145-151`); production teams that adopt the
engine also need a sink they can implement in-house for systems Spark
has no connector for. This one shows the contract such a sink must
honor at scale:

- tasks NEVER write to final names: each `write(iterator)` call puts
  rows in a uniquely-named temp file and reports it in its
  WriterCommitMessage — a speculated/retried/zombie task can at worst
  leave an orphaned temp, never a half-visible output;
- `commit(messages, batchId)` (driver, once per epoch) renames the
  winning attempts to deterministic `part-<batchId>-<taskIdx>.json`
  names. Re-running a batch after a crash-between-commit-and-
  checkpoint re-creates the SAME names — the replay overwrites its
  own files instead of duplicating rows, which is what makes the sink
  exactly-once at micro-batch granularity (same contract as Spark's
  own file sinks, minus the metadata log: deterministic names ARE the
  idempotence);
- `abort` deletes the reported temps (best-effort; orphans are
  invisible to readers anyway because only committed names match the
  `part-*.json` glob).
"""

from __future__ import annotations

import glob
import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class TempFileMessage(WriterCommitMessage):
    tmp_path: str
    n_rows: int


def _write_tmp(path: str, iterator) -> TempFileMessage:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".tmp-{uuid.uuid4().hex}")
    n = 0
    with open(tmp, "w") as f:
        for row in iterator:
            f.write(json.dumps(row.asDict(recursive=True), default=str) + "\n")
            n += 1
    return TempFileMessage(tmp_path=tmp, n_rows=n)


def _commit(path: str, messages, prefix: str, clear_glob: str | None) -> None:
    """Driver-side rename of winning attempts to final names.
    clear_glob: files deleted BEFORE the renames — the stream
    writer passes its own batch's pattern (idempotent replay of a
    checkpoint-driven batchId); the batch writer passes the whole
    part-glob only in overwrite mode, never on append (each batch
    commit uses a fresh unique prefix, so appends coexist)."""
    if clear_glob:
        for old in glob.glob(os.path.join(path, clear_glob)):
            os.remove(old)
    for idx, m in enumerate(m for m in messages if m is not None):
        final = os.path.join(path, f"{prefix}-{idx:05d}.json")
        if m.n_rows:
            os.replace(m.tmp_path, final)
        else:  # empty task: no file, but temp still needs removing
            try:
                os.remove(m.tmp_path)
            except OSError:
                pass


def _abort(messages) -> None:
    for m in messages:
        if m is not None:
            try:
                os.remove(m.tmp_path)
            except OSError:
                pass


class NdjsonStreamWriter(DataSourceStreamWriter):
    def __init__(self, options):
        self.path = options["path"]

    def write(self, iterator):
        return _write_tmp(self.path, iterator)

    def commit(self, messages, batchId):
        # checkpoint-driven batchId: deterministic names + replay
        # deletion of this batch's previous attempt = exactly-once
        _commit(
            self.path,
            messages,
            f"part-{batchId:08d}",
            f"part-{batchId:08d}-*.json",
        )

    def abort(self, messages, batchId):
        _abort(messages)


class NdjsonBatchWriter(DataSourceWriter):
    """Batch leg: there is no checkpoint-driven batch id, so every
    commit mints a UNIQUE id (driver-side uuid) — two successive
    append saves to the same path coexist instead of the second
    silently deleting the first's files. overwrite=True clears all
    previously committed parts atomically inside commit()."""

    def __init__(self, options, overwrite: bool):
        self.path = options["path"]
        self.overwrite = overwrite
        self.commit_id = uuid.uuid4().hex[:16]

    def write(self, iterator):
        return _write_tmp(self.path, iterator)

    def commit(self, messages):
        _commit(
            self.path,
            messages,
            f"part-c{self.commit_id}",
            "part-*.json" if self.overwrite else None,
        )

    def abort(self, messages):
        _abort(messages)


class NdjsonSinkDataSource(DataSource):
    """format("ndjson_sink"), option path=<dir>. Batch append /
    overwrite + stream append — the two-phase temp-then-rename
    protocol above."""

    @classmethod
    def name(cls):
        return "ndjson_sink"

    def schema(self):
        return "key string, value string"

    def writer(self, schema, overwrite):
        return NdjsonBatchWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite):
        return NdjsonStreamWriter(self.options)


def register_ndjson_sink(spark: SparkSession) -> None:
    spark.dataSource.register(NdjsonSinkDataSource)
