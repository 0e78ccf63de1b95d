"""File-based sources: parquet/json/csv, batch and streaming twins.

The reference only reads Kafka (SURVEY.md §2.1); our engine treats every
source as a (batch, streaming) twin on the same code path so the DuckDB
oracle can validate batch semantics while streaming fidelity is checked
by replay (SURVEY.md §5, §7.1). Parquet is the default columnar format:
column pruning and predicate pushdown reach the scan for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The driver-generated synthetic tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch-read one synthetic table. Plain `spark.read.parquet` so
    pushdown/pruning stay available to Catalyst.

    `events.ts` has shipped in two physical encodings across driver
    testdata generations: TIMESTAMP(NANOS) (no Spark type — scanned as
    bigint under `spark.sql.legacy.parquet.nanosAsLong` and rebuilt
    here) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (scanned as
    TIMESTAMP_NTZ, which `unix_micros`/long casts reject). Both are
    normalized to a TIMESTAMP whose instant equals the stored wall
    clock read as UTC — matching DuckDB's naive-timestamp reading of
    the same file. The NTZ path does this per-expression
    (convert_timezone through the session tz, which cancels), NOT by
    mutating spark.sql.session.timeZone: a loader must never change
    timestamp semantics for every subsequent query on a caller's
    session."""
    if name == "events":
        # must also hold on driver-provided sessions, not just get_spark()
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # NTZ wall clock → the same instant under ANY session tz:
            # convert_timezone renders the UTC wall clock in the session
            # tz, and the cast re-interprets it in the session tz — the
            # two shifts cancel, leaving instant = wall_clock@UTC.
            # (Verified equal across UTC and America/New_York sessions.)
            df = df.withColumn(
                "ts",
                F.expr(
                    "cast(convert_timezone('UTC', current_timezone(), ts)"
                    " as timestamp)"
                ),
            )
    return df


def load_table_spread(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """`load_table`, hash-repartitioned on `key` to the session's default
    parallelism. Each synthetic table is ONE parquet file, and documents
    holds one row group, so its scan is one task — and AQE coalesces the
    sub-MB shuffles right after it back to one partition. Shingling and
    MinHash cost per ROW, not per byte, so the plans that feed a
    documents scan to them spread it first (measured at sf0.1: without
    it ngram_jaccard_pairs and decontaminate_ngram_overlap ran 1.8×
    slower). Lazy: a fixed partition count needs no partition probe,
    so building the plan runs no job. Operators never repartition their
    input themselves; where the rows come from is the plan's business."""
    return load_table(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism, key
    )


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of one synthetic table (single parquet file or a
    directory of part files). Drives scale-adaptive batching decisions
    (e.g. Arrow group bucket counts) from the driver without spending a
    Spark job on a count(): same input → same size → same plan."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(p):
        total = 0
        for root, _dirs, fs in os.walk(p):
            for f in fs:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total
    try:
        return os.path.getsize(p)
    except OSError:
        return 0


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every synthetic table as a temp view (mirrors the
    reference's view-based SQL idiom, SURVEY.md §2.7)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of ``load_table``: a file-source streaming
    DataFrame over the same parquet (schema taken from a batch probe).
    Drive to completion with Trigger.AvailableNow for deterministic
    tests (SURVEY.md §2.8-T3)."""
    schema = load_table(spark, sf_dir, name).schema
    # the file streaming source requires a DIRECTORY; select the one
    # table via a glob filter
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .load(sf_dir)
    )


def load_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
) -> DataFrame:
    """CSV batch source. With an explicit schema the reader skips the
    inference pass (one full scan saved — at 100 TB schema inference is
    a real job, not a convenience); timestamps parse via the default
    ISO format. `columnPruning` keeps unprojected columns unparsed even
    though CSV can't skip bytes on disk."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def load_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """NDJSON batch source (one object per line — the only JSON shape
    that splits across workers; multiline JSON documents serialize the
    whole file through one task). Explicit schema skips inference and
    lets Jackson parse only projected fields."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def load_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC batch source (Spark-native columnar alternative to parquet;
    common in Hive-era lakes). ORC carries its schema, supports
    predicate pushdown via min/max + Bloom stripe statistics, and
    vectorizes through the same columnar reader as parquet — so every
    registry query runs unchanged over an ORC copy of the tables
    (`test_orc_roundtrip_and_pushdown` proves values AND the pushed
    filters)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC writer twin (snappy by default, like parquet)."""
    df.write.mode(mode).orc(path)


def load_xml(spark: SparkSession, path: str, row_tag: str = "row", schema=None) -> DataFrame:
    """XML batch source (built into Spark 4 — no external package).
    Explicit schema skips the inference scan; `row_tag` names the
    repeating element. XML does not split inside a file, so at scale
    the corpus must arrive as many files (same caveat as multiline
    JSON)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row", mode: str = "overwrite") -> None:
    """XML writer twin (rootTag/rowTag contract mirrored by load_xml)."""
    df.write.mode(mode).format("xml").option("rootTag", "rows").option(
        "rowTag", row_tag
    ).save(path)


def stream_json(spark: SparkSession, path: str, schema) -> DataFrame:
    """Streaming twin of ``load_json`` — file-source micro-batching over
    an NDJSON directory. Schema is mandatory (streaming sources can't
    infer)."""
    return spark.readStream.schema(schema).json(path)
