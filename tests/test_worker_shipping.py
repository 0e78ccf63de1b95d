"""Python workers run the engine's code without importing the engine.

A driver may reach the package only through ``sys.path.insert`` (as
``bench.py`` and ``perfbench/run.py`` do), from any working directory,
while the Python workers Spark starts have no such entry. Every worker-
side operator family must still run there: the pandas UDFs of the
semantic dedup family and the image decoder, the Python DataSource
reader and writer, and a stateful streaming function.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.dirname(os.path.abspath(__file__))


def _vec(i: int, jitter: float = 0.0) -> list[float]:
    return [float((i * 7 + d * 13) % 17 - 8) + jitter * d for d in range(8)]


def _images() -> list[tuple[int, bytes | None]]:
    """A 4x2 PPM, a 3x2 bottom-up 24-bit BMP, junk and a null payload."""
    ppm = b"P6\n# c\n4 2\n255\n" + bytes((7 * k) % 251 for k in range(24))
    w, h = 3, 2
    stride = ((w * 3 + 3) // 4) * 4
    raster = b"".join(
        bytes((11 * (y * 9 + x)) % 256 for x in range(w * 3))
        + b"\x00" * (stride - w * 3)
        for y in range(h)
    )
    bmp = (
        b"BM"
        + (54 + len(raster)).to_bytes(4, "little")
        + b"\x00" * 4
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + b"\x00" * 24
        + raster
    )
    return [(1, ppm), (2, bmp), (3, b"not an image"), (4, None)]


def probe(spark, work: str) -> dict:
    """Run one job of every worker-side family on `spark`, writing under
    `work`; return each family's rows, sorted, as JSON-ready lists."""
    import glob

    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.operators import (
        dedup,
        multimodal,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.ndjson_sink import (
        register_ndjson_sink,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.sources.simulator import (
        register_stedi_simulator,
    )
    from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.streaming.stateful import (
        transition_tracker,
    )

    def rows(df):
        return sorted([list(r) for r in df.collect()], key=repr)

    vecs = "vec_id bigint, v array<double>"
    corpus = spark.createDataFrame(
        [(i, _vec(i)) for i in range(24)]
        + [(100 + i, _vec(i, 0.01)) for i in range(6)],
        vecs,
    )
    batch = spark.createDataFrame(
        [(200, _vec(3, 0.02)), (201, _vec(20, 0.02)), (202, [1.0] * 8)], vecs
    )
    out = {
        "semantic_dedup": rows(dedup.semantic_dedup(corpus)),
        "incremental_semantic_dedup": rows(
            dedup.incremental_semantic_dedup(dedup.semantic_index(corpus), batch)
        ),
        "decode_image_stats": rows(
            multimodal.decode_image_stats(
                spark.createDataFrame(_images(), "doc_id bigint, payload binary")
            )
        ),
    }

    register_stedi_simulator(spark)
    out["stedi_sim"] = rows(
        spark.read.format("stedi_sim")
        .option("rows", "12")
        .option("partitions", "3")
        .load()
    )

    register_ndjson_sink(spark)
    sink = os.path.join(work, "ndjson")
    (
        spark.createDataFrame(
            [(f"k{i}", f"v{i}") for i in range(10)], "key string, value string"
        )
        .repartition(2)
        .write.format("ndjson_sink")
        .mode("append")
        .option("path", sink)
        .save()
    )
    lines = []
    for part in glob.glob(os.path.join(sink, "part-*.json")):
        with open(part) as f:
            lines += f.read().splitlines()
    out["ndjson_sink"] = sorted(lines)

    src = os.path.join(work, "events")
    os.makedirs(src)
    types = ["view", "click", "purchase"]
    with open(os.path.join(src, "e.json"), "w") as f:
        for k in range(24):
            ev = {
                "user_id": k % 3,
                "event_type": types[(k * k) % 3],
                "ts": f"2024-01-01T00:{k // 2:02d}:00.000Z",
                "event_id": k,
            }
            f.write(json.dumps(ev) + "\n")
    stream = spark.readStream.schema(
        "user_id bigint, event_type string, ts timestamp, event_id bigint"
    ).json(src)
    q = (
        transition_tracker(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("worker_shipping_transitions")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out["transition_tracker"] = rows(
        spark.table("worker_shipping_transitions").select(
            "user_id", "from_type", "to_type", "n"
        )
    )
    return out


_DRIVER = """
import json, sys
sys.path.insert(0, {root!r})
sys.path.insert(0, {tests!r})
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from test_worker_shipping import probe
print(json.dumps(probe(spark, {work!r})))
spark.stop()
"""


def test_worker_side_operators_run_from_any_working_directory(spark, tmp_path):
    """A local[2] driver started in a directory outside the repo, with
    no PYTHONPATH entry naming it, returns the rows every family
    returns in-repo."""
    off_root = tmp_path / "elsewhere"
    off_root.mkdir()
    assert not str(off_root).startswith(ROOT)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and not os.path.abspath(p).startswith(ROOT)
    )
    script = _DRIVER.format(root=ROOT, tests=TESTS, work=str(off_root))
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=off_root,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    got = json.loads(run.stdout.strip().splitlines()[-1])

    in_repo = tmp_path / "in_repo"
    in_repo.mkdir()
    want = json.loads(json.dumps(probe(spark, str(in_repo))))
    assert got == want
    # every family did real work
    assert any(not kept for *_, kept in want["semantic_dedup"])
    assert any(r[2] is not None for r in want["incremental_semantic_dedup"])
    assert [r[0] for r in want["decode_image_stats"]] == [1, 2]
    assert len(want["stedi_sim"]) == 12 and len(want["ndjson_sink"]) == 10
    assert sum(r[3] for r in want["transition_tracker"]) == 24 - 3
