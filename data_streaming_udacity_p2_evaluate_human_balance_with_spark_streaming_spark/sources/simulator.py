"""Custom Python Data Source (Spark 4 DataSource API): a deterministic
STEDI simulator.

The reference gets its input from a 9-container simulator stack
(`/root/reference/docker-compose.yaml:1-9` — Redis, Kafka Connect, app
simulators). This source replaces that stack for development/testing:
`spark.read.format("stedi_sim")` produces the exact Kafka-shaped
(key, value) envelope rows the changefeed would carry, partitioned and
reproducible (seeded by row index, no RNG state).
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


def _customer_envelope(i: int) -> tuple:
    customer = {
        "customerName": f"Customer {i}",
        "email": f"c{i}@test.com",
        "phone": f"555-{i % 10000:04d}",
        "birthDay": f"{1950 + i % 50:04d}-{1 + i % 12:02d}-{1 + i % 28:02d}",
    }
    value = {
        "key": _b64("Customer"),
        "existType": "NONE",
        "Ch": False,
        "Incr": False,
        "zSetEntries": [
            {"element": _b64(json.dumps(customer)), "Score": "0.0"}
        ],
    }
    return (_b64("Customer"), json.dumps(value))


def _event_envelope(i: int) -> tuple:
    """stedi-events record for the same simulated customer i
    (project/starter README contract: {customer, score, riskDate});
    score is a deterministic function of i so goldens are
    computable without shared state."""
    event = {
        "customer": f"c{i}@test.com",
        "score": round(((i % 41) - 20) * 1.5, 1),
        "riskDate": f"2020-09-{1 + i % 28:02d}T07:{i % 60:02d}:06.000Z",
    }
    return (f"c{i}@test.com", json.dumps(event))


def _envelope(topic: str, i: int) -> tuple:
    return (
        _event_envelope(i) if topic == "stedi-events" else _customer_envelope(i)
    )


class StediSimReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("rows", 100))
        self.n_parts = int(options.get("partitions", 4))
        self.topic = options.get("topic", "customer")

    def partitions(self):
        return [InputPartition(p) for p in range(self.n_parts)]

    def read(self, partition):
        p = partition.value
        for i in range(p, self.n_rows, self.n_parts):
            yield _envelope(self.topic, i)


class StediSimStreamReader(SimpleDataSourceStreamReader):
    """Streaming twin: emits `rows_per_batch` envelopes per
    micro-batch until `rows` total; offset = next row index, so
    restart-from-checkpoint resumes exactly."""

    def __init__(self, options):
        self.n_rows = int(options.get("rows", 100))
        self.per_batch = int(options.get("rows_per_batch", 20))
        self.topic = options.get("topic", "customer")

    def initialOffset(self):
        return {"i": 0}

    def read(self, start):
        i = start["i"]
        end = min(i + self.per_batch, self.n_rows)
        return (
            iter([_envelope(self.topic, j) for j in range(i, end)]),
            {"i": end},
        )

    def readBetweenOffsets(self, start, end):
        return iter(
            [_envelope(self.topic, j) for j in range(start["i"], end["i"])]
        )


class StediSimulatorDataSource(DataSource):
    """format("stedi_sim"), options: rows, partitions (batch),
    rows_per_batch (streaming), topic ("customer" emits the Redis
    changefeed envelope, "stedi-events" the risk-event record —
    the two Kafka topics of the reference's simulator stack)."""

    @classmethod
    def name(cls):
        return "stedi_sim"

    def schema(self):
        return "key string, value string"

    def reader(self, schema):
        return StediSimReader(self.options)

    def simpleStreamReader(self, schema):
        return StediSimStreamReader(self.options)


def register_stedi_simulator(spark: SparkSession) -> None:
    spark.dataSource.register(StediSimulatorDataSource)
