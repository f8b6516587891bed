"""End-to-end flows (SURVEY §3.1–3.3, build plan M3): the reference's
three Prefect flows re-expressed as single Spark jobs.

Reference flow shape (news_etl_flow.py / praw_etl_flow.py /
alpaca_etl_flow.py): extract → Celery fan-out fetch → transform →
S3 parquet → Databricks merge job. Here each flow is ONE lazy plan:
landing-zone read → pipeline transform → idempotent merge sink — no
cross-system hops, no hand-rolled 4-way splits (partitioning is the
fan-out), and the whole thing is restart-safe because the sink is
idempotent (re-running a flow inserts 0 rows).

Each flow returns the inserted-row count, like the reference's flows
return their record counts (flows/news_etl_flow.py:23) — the A5
"sum over batch results" surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from stonkwhisperer_spark.pipelines import clean_bars, clean_news, clean_posts
from stonkwhisperer_spark.schemas import (
    RAW_BARS_SCHEMA,
    RAW_NEWS_SCHEMA,
    RAW_POSTS_SCHEMA,
)
from stonkwhisperer_spark.sinks.writers import merge_append
from stonkwhisperer_spark.sources.landing import read_landing

_RAW = {"news": RAW_NEWS_SCHEMA, "posts": RAW_POSTS_SCHEMA, "bars": RAW_BARS_SCHEMA}


def _read_raw(
    spark: SparkSession, path: str, kind: str, arrival_in_data: bool
) -> DataFrame:
    """Landing read for a flow. ``arrival_in_data=False`` (default) is
    the surrogate-order path: `_arrival_id` is synthesized from file
    row layout (read_landing). ``True`` declares the landing files
    CARRY their own ``_arrival_id`` column (exported queue offsets,
    extractor sequence numbers — the reference's fetch batches are
    ordered lists, extraction.py:28-96), making every keep-first dedup
    downstream value-deterministic and replayable."""
    if not arrival_in_data:
        return read_landing(spark, path, kind)
    schema = T.StructType(
        list(_RAW[kind].fields) + [T.StructField("_arrival_id", T.LongType())]
    )
    return read_landing(spark, path, schema, with_arrival_id=False)


def news_flow(
    spark: SparkSession,
    landing_path: str,
    target_path: str,
    arrival_in_data: bool = False,
) -> int:
    """Landing news drops → clean_news → merge-append on url.
    One shuffle (url dedup window) + the merge anti-join."""
    raw = _read_raw(spark, landing_path, "news", arrival_in_data)
    clean = clean_news(raw, order_col="_arrival_id")
    return merge_append(spark, target_path, clean, ["url"])


def posts_flow(
    spark: SparkSession,
    landing_path: str,
    target_path: str,
    flairs: list[str] | None = None,
    arrival_in_data: bool = False,
) -> int:
    """Landing reddit drops → clean_posts (optional F1 flair filter) →
    merge-append on reddit_id."""
    raw = _read_raw(spark, landing_path, "posts", arrival_in_data)
    clean = clean_posts(raw, order_col="_arrival_id", flairs=flairs)
    return merge_append(spark, target_path, clean, ["reddit_id"])


def bars_flow(
    spark: SparkSession,
    landing_path: str,
    target_path: str,
    companies: DataFrame,
    arrival_in_data: bool = False,
) -> int:
    """Landing bar drops → clean_bars (coerce + gap-fill) → FK resolve
    + merge-append on (company_id, bar_ts), bar_date-partitioned."""
    from stonkwhisperer_spark.sinks.writers import upsert_bars

    raw = _read_raw(spark, landing_path, "bars", arrival_in_data)
    clean = clean_bars(raw, tiebreak_col="_arrival_id")
    return upsert_bars(spark, target_path, clean, companies)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every testdata table as a temp view so users can run
    plain ``spark.sql(...)`` — the SQL half of the DataFrame/SQL API
    surface."""
    from stonkwhisperer_spark.sources.tables import load_tables

    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
