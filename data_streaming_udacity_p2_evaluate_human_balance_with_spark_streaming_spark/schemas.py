"""The reference's three JSON schemas, declared once.

The reference duplicates these StructTypes across three scripts
(``/root/reference/project/starter/sparkpykafkajoin.py:8-28``,
``sparkpyrediskafkastreamtoconsole.py:5-20``,
``sparkpyeventskafkastreamtoconsole.py:19-23``). We keep the
reference's string-typed "fidelity" schemas (numerics-as-strings, dates
as strings — SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

# --- fidelity schemas (byte-compatible with the reference) -----------------

#: Redis changefeed envelope (sparkpykafkajoin.py:8-17). One record per
#: Redis write; `zSetEntries[*].element` is base64 of a Customer JSON.
REDIS_ENVELOPE = StructType(
    [
        StructField("key", StringType()),
        StructField("existType", StringType()),
        StructField("Ch", BooleanType()),
        StructField("Incr", BooleanType()),
        StructField(
            "zSetEntries",
            ArrayType(
                StructType(
                    [
                        StructField("element", StringType()),
                        StructField("Score", StringType()),
                    ]
                )
            ),
        ),
    ]
)

#: Decoded Customer record (sparkpykafkajoin.py:18-23).
CUSTOMER = StructType(
    [
        StructField("customerName", StringType()),
        StructField("email", StringType()),
        StructField("phone", StringType()),
        StructField("birthDay", StringType()),
    ]
)

#: Risk event from the `stedi-events` topic (sparkpykafkajoin.py:24-28).
#: `score` deliberately StringType for fidelity (SURVEY.md §1.2).
STEDI_EVENT = StructType(
    [
        StructField("customer", StringType()),
        StructField("score", StringType()),
        StructField("riskDate", StringType()),
    ]
)
