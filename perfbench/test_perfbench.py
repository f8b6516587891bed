"""Tests of the benchmark's own code: the generator is deterministic, and
each committed-table check fails on a deliberately corrupted table.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from checks import Ledger, table_faults  # noqa: E402
from gen import Landing, Traffic  # noqa: E402

SMALL = Traffic(articles=200, posts=200, tickers=3, minutes=30)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _landing(root: str, seed: int):
    land = Landing(root, seed, SMALL)
    days = [land.day(d) for d in range(3)]
    urls = land.stream_backlog(os.path.join(root, "stream"), 3, 50)
    return land, days, urls, land.point_plan(urls, 4) + land.read_plan(20, window=10)


def test_generator_is_deterministic(tmp_path):
    a = _landing(str(tmp_path / "a"), 7)
    b = _landing(str(tmp_path / "b"), 7)
    c = _landing(str(tmp_path / "c"), 8)
    assert a[1:] == b[1:]
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))


def test_generator_exposes_traffic_dimensions(tmp_path):
    import pyarrow.parquet as pq

    land, days, _, _ = _landing(str(tmp_path), 3)
    news = pq.read_table(os.path.join(land.day_path(1), "news")).to_pylist()
    urls = [r["url"] for r in news]
    assert len(set(urls)) < len(urls)  # within-day duplicates and re-sent keys
    assert set(urls) & set(land.urls[: days[0]["news"]])  # keys committed on day 0
    assert any(r["content"] is None for r in news)
    bars = pq.read_table(os.path.join(land.day_path(1), "bars")).to_pylist()
    assert any(r["open"] in ("N/A", "", "1.2.3", None) for r in bars)
    assert {r["symbol"] for r in bars} - set(land.tickers)  # unknown tickers


def test_ledger_counts_failures():
    led = Ledger()
    assert led.expect("a", 1, 1)
    assert not led.expect("b", 2, 3)
    assert led.attempted == 2 and len(led.failures) == 1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from stonkwhisperer_spark.session import get_spark

    s = get_spark(
        "perfbench-tests",
        cpus=2,
        shuffle_partitions=2,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s
    s.stop()


@pytest.fixture()
def tables(spark, tmp_path):
    """Articles and bars tables built by the flows from one landing day."""
    from stonkwhisperer_spark import flows

    land = Landing(str(tmp_path / "landing"), 5, SMALL)
    want = land.day(0)
    companies = spark.createDataFrame(land.companies(), "id string, ticker string")
    articles, bars = str(tmp_path / "articles"), str(tmp_path / "bars")
    assert flows.news_flow(spark, os.path.join(land.day_path(0), "news"), articles) == want["news"]
    assert flows.bars_flow(spark, os.path.join(land.day_path(0), "bars"), bars, companies) == want["bars"]
    ids = [c for c, _ in land.companies()]
    return spark, articles, bars, want, ids


def _failing(faults: dict) -> set[str]:
    return {what for what, (got, want) in faults.items() if got != want}


def test_checks_hold_on_intact_tables(tables):
    spark, articles, bars, want, ids = tables
    assert _failing(table_faults(spark, articles, ["url"], want["news"])) == set()
    assert _failing(table_faults(spark, bars, ["company_id", "bar_ts"], want["bars"], ids)) == set()


def test_checks_fail_on_injected_duplicate_key(tables):
    from stonkwhisperer_spark.sinks.writers import append_txn, read_committed

    spark, articles, _, want, _ = tables
    one = read_committed(spark, articles).limit(1)
    append_txn(spark, articles, one, "corrupt", 1)  # blind append: no key check
    assert _failing(table_faults(spark, articles, ["url"], want["news"])) == {"rows", "duplicate keys"}


def test_checks_fail_on_dropped_row(tables):
    from pyspark.sql import functions as F

    from stonkwhisperer_spark.sinks.writers import delete_where, read_committed

    spark, articles, _, want, _ = tables
    url = read_committed(spark, articles).first().url
    assert delete_where(spark, articles, F.col("url") == url) == 1
    assert _failing(table_faults(spark, articles, ["url"], want["news"])) == {"rows"}


def test_checks_fail_on_unknown_company(tables):
    from pyspark.sql import functions as F

    from stonkwhisperer_spark.sinks.writers import append_txn, read_committed

    spark, _, bars, want, ids = tables
    stray = read_committed(spark, bars).limit(1).withColumn("company_id", F.lit("co-UNKNOWN"))
    append_txn(spark, bars, stray, "corrupt", 1)
    assert _failing(table_faults(spark, bars, ["company_id", "bar_ts"], want["bars"], ids)) == {
        "rows",
        "unknown companies",
    }
