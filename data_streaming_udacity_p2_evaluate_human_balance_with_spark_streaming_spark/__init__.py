"""PySpark-native analytics engine with the query/data-processing
capabilities of the STEDI "Evaluate Human Balance" streaming pipeline
(reference: lauraabdul/Data-Streaming-Udacity-P2-Evaluate-Human-Balance-
with-Spark-Streaming), extended with large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns).

Everything is expressed Spark-first: declarative DataFrame/SQL plans so
Catalyst/Tungsten pick the physical strategy; Pandas UDFs only where the
built-in operators cannot express the semantics.

Layout
------
- ``session``    : SparkSession factory (AQE on, UTC, tuned shuffle).
- ``schemas``    : the reference's three StructTypes, declared once.
- ``sources``    : batch + streaming source twins (parquet/json/kafka/memory).
- ``operators``  : one module per operator family (decode, joins,
  aggregates, dedup, similarity, text, multimodal).
- ``plans``      : the reference pipelines composed from operators, plus
  the query registry consumed by ``__spark_entry__``.
- ``streaming``  : sinks, checkpointing, and a multi-query runner.

Python workers need not import this package: importing it registers the
whole package with cloudpickle by value, so every function and class it
defines that a job sends to a worker (pandas UDFs, stateful functions,
DataSource classes) travels as code. That holds on any session, the
engine's own or a driver's, from any working directory and on any
cluster.
"""

import sys

from pyspark import cloudpickle

from .session import get_spark  # noqa: F401

cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = ["get_spark"]
