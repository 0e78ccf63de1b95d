"""Emulate the spark-graft driver: plain SparkSession (driver's own
config, NOT the engine's get_spark), import __spark_entry__, run
entry() + queries()/oracle_sql() cross-check at sf0.01 via DuckDB."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .appName("driver-emulation")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

# 1. smoke: entry()
df = e.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={[(f.name, f.dataType.simpleString()) for f in df.schema.fields]}")
print("entry() sample:", rows[0].asDict() if rows else None)

# 2. correctness: every queries() key vs oracle_sql() at sf0.01
SF = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

import datetime, decimal, math

import numpy as np
import pandas as pd


def norm(v):
    """Dtype-SENSITIVE canonicalization mirroring the driver's pandas
    hop: DuckDB HUGEINT/DECIMAL arrive as float64 ("150.0") while
    Spark BIGINT/Decimal arrive as int64/Decimal ("150") -- value-equal
    but hash-different.  4 of the last 5 driver red rows were exactly
    this class, so the local check must distinguish them too."""
    if v is None:
        return "\0NULL"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return "dec:" + f"{v:f}"
    if isinstance(v, datetime.datetime):  # covers pd.Timestamp
        if v != v:  # NaT
            return "\0NULL"
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        # Spark DATE -> datetime.date object, DuckDB DATE -> pandas
        # datetime64 at midnight; the driver hashes these equal
        # (date_spine_zero_fill / retention_cohort_weeks green r5), so
        # coerce date to its midnight-timestamp rendering.
        return v.isoformat() + "T00:00:00"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def pdf_rows(pdf: "pd.DataFrame"):
    cols = sorted(pdf.columns)
    body = pdf[cols]
    rows = sorted(
        tuple(norm(v) for v in row)
        for row in body.itertuples(index=False, name=None)
    )
    dtypes = {c: str(body[c].dtype) for c in cols}
    return rows, [c.lower() for c in cols], dtypes

qs, os_ = e.queries(), e.oracle_sql()
# optional argv filter: `python scripts/driver_check.py q1 q2` checks only those
if len(sys.argv) > 1:
    wanted = set(sys.argv[1:])
    qs = {n: f for n, f in qs.items() if n in wanted}
print(f"{len(qs)} queries, {len(os_)} oracles")
fails = 0
for name, fn in qs.items():
    try:
        spdf = fn(spark, SF).toPandas()
    except Exception as ex:  # noqa: BLE001 - report, keep sweeping
        print(f"  {name}: SPARK ERROR {type(ex).__name__}: {ex}")
        fails += 1
        continue
    srows, scols, sdt = pdf_rows(spdf)
    if name not in os_:
        print(f"  {name}: rows-only, {len(srows)} rows")
        continue
    try:
        dpdf = con.execute(os_[name]).df()
    except Exception as ex:  # noqa: BLE001
        print(f"  {name}: ORACLE ERROR {type(ex).__name__}: {ex}")
        fails += 1
        continue
    drows, dcols, ddt = pdf_rows(dpdf)
    ok = srows == drows and scols == dcols
    fails += 0 if ok else 1
    print(f"  {name}: {'MATCH' if ok else 'MISMATCH'} spark={len(srows)} duck={len(drows)}")
    if not ok:
        print(f"    spark dtypes: {sdt}")
        print(f"    duck  dtypes: {ddt}")
        for a, b in zip(srows, drows):
            if a != b:
                print("    spark:", a)
                print("    duck :", b)
                break
        if len(srows) != len(drows) and srows and drows:
            print("    spark[0]:", srows[0]); print("    duck[0] :", drows[0])
print("RESULT:", "ALL MATCH" if fails == 0 else f"{fails} MISMATCHES")
sys.exit(1 if fails else 0)
