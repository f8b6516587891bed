"""Landing-zone readers (SURVEY.md §7.1 source contract, S1–S3).

The reference's REST extractors (NewsAPI extraction.py:28-96, PRAW
:98-185, Alpaca :187-223) produce List[Dict] batches; our engine's
testable equivalent is a landing zone of raw files carrying the exact
RAW_* schemas (schemas.py). The fetch layer (sources/fetch.py) WRITES
this zone; everything downstream reads it — so every operator is
testable offline, and a future custom PySpark DataSource can replace
the files without touching the pipelines.

Schemas are always declared, never inferred (the reference's pandas
inference is a bug surface — SURVEY §1.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stonkwhisperer_spark.schemas import (
    RAW_BARS_SCHEMA,
    RAW_NEWS_SCHEMA,
    RAW_POSTS_SCHEMA,
)

_RAW_SCHEMAS = {"news": RAW_NEWS_SCHEMA, "posts": RAW_POSTS_SCHEMA, "bars": RAW_BARS_SCHEMA}


def read_landing(
    spark: SparkSession,
    path: str,
    kind_or_schema: str | T.StructType,
    with_arrival_id: bool = True,
) -> DataFrame:
    """Read a landing-zone drop with its declared raw schema.

    ``with_arrival_id`` appends a monotonically increasing `_arrival_id`
    — the arrival-order surrogate the keep-first dedups (A1/A2) order
    by, standing in for pandas row order (SURVEY §7.4). It is
    deterministic per (partition, row) layout, which is exactly the
    arrival semantics a landing zone has.
    """
    schema = _RAW_SCHEMAS[kind_or_schema] if isinstance(kind_or_schema, str) else kind_or_schema
    df = spark.read.schema(schema).parquet(path)
    if with_arrival_id:
        df = df.withColumn("_arrival_id", F.monotonically_increasing_id())
    return df
