"""Structured Streaming (M4): landing-zone file source → watermark
dedup → foreachBatch merge, and windowed minute bars. availableNow
triggers drain the backlog so tests are deterministic."""

from __future__ import annotations

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stonkwhisperer_spark.streaming import jobs
from stonkwhisperer_spark.streaming.jobs import (
    dedup_within_watermark,
    minute_bars,
    read_landing_stream,
    start_merge_stream,
)

NEWS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("published_at", T.TimestampType()),
    ]
)


def _drop(spark, path, rows):
    spark.createDataFrame(rows, NEWS_SCHEMA).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture
def landing(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    path = str(tmp_path / "landing")
    _drop(
        spark,
        path,
        [
            ("u/1", "a", t0),
            ("u/2", "b", t0),
            ("u/2", "b-dup-in-stream", t0),  # in-stream dup (same key)
        ],
    )
    # Five minutes later: the watermark advances after the last batch.
    t1 = t0 + dt.timedelta(minutes=5)
    _drop(spark, path, [("u/3", "c", t1), ("u/1", "a-cross-file-dup", t1)])
    return path


def test_stream_dedup_and_merge(spark, landing, tmp_path):
    """A dedup-only stream runs one micro-batch per drop and no no-data
    batch after them: its plan cannot output a row without input."""
    from stonkwhisperer_spark.sinks.writers import read_committed

    target = str(tmp_path / "articles")
    stream = read_landing_stream(spark, landing, NEWS_SCHEMA, max_files_per_trigger=1)
    deduped = dedup_within_watermark(stream, ["url"], "published_at", "10 minutes")
    q = start_merge_stream(deduped, target, ["url"], str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert [p["numInputRows"] for p in q.recentProgress] == [3, 2]
    out = read_committed(spark, target)
    assert out.count() == 3  # u/1, u/2, u/3 exactly once
    assert out.select("url").distinct().count() == 3

    # replaying the whole landing zone with a fresh checkpoint still
    # inserts nothing: the merge sink is the cross-run dedup layer.
    stream2 = read_landing_stream(spark, landing, NEWS_SCHEMA)
    q2 = start_merge_stream(
        dedup_within_watermark(stream2, ["url"], "published_at"),
        target,
        ["url"],
        str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    assert read_committed(spark, target).count() == 3


def test_stream_commits_stage_one_file_each(spark, tmp_path):
    """Each micro-batch commit of start_merge_stream stages ONE file,
    not one per shuffle partition: a stateful micro-batch runs with AQE
    off, so the staging write sizes its output by an explicit count."""
    import datetime as dt

    from stonkwhisperer_spark.sinks.writers import _commits, read_committed

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    landing, target = str(tmp_path / "landing"), str(tmp_path / "articles")
    for drop in range(2):
        _drop(spark, landing, [(f"u/{drop}/{i}", "t", t0) for i in range(40)])
    stream = read_landing_stream(spark, landing, NEWS_SCHEMA, max_files_per_trigger=1)
    q = start_merge_stream(
        dedup_within_watermark(stream, ["url"], "published_at"),
        target,
        ["url"],
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    adds = [len(c["add"]) for c in _commits(target)]
    assert adds == [1, 1]
    assert read_committed(spark, target).count() == 80


WIDTH = "spark.sql.shuffle.partitions"
NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"


def _merge_drain(spark, landing, target, ckpt) -> list[dict]:
    """Drain ``landing`` through start_merge_stream over the watermarked
    dedup; returns the query's progress, one entry per micro-batch."""
    stream = read_landing_stream(spark, landing, NEWS_SCHEMA, max_files_per_trigger=1)
    q = start_merge_stream(
        dedup_within_watermark(stream, ["url"], "published_at"), target, ["url"], ckpt
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    assert q.exception() is None
    return q.recentProgress


def _width(progress: list[dict]) -> int:
    """The state partitions a drain's query reported."""
    return progress[-1]["stateOperators"][0]["numShufflePartitions"]


def test_stream_starts_at_task_slot_width(spark, landing, tmp_path):
    """A stream starts at min(session width, task slots): one state store
    per slot, not one per batch shuffle partition. The session's own
    settings, the width and the no-data batch switch, are left as they
    were."""
    before, no_data = spark.conf.get(WIDTH), spark.conf.get(NO_DATA)
    progress = _merge_drain(spark, landing, str(tmp_path / "articles"), str(tmp_path / "ckpt"))
    assert (spark.conf.get(WIDTH), spark.conf.get(NO_DATA)) == (before, no_data)
    assert _width(progress) == min(int(before), spark.sparkContext.defaultParallelism)


def test_stream_restart_keeps_checkpoint_width(spark, tmp_path):
    """The width is fixed at a checkpoint's first start: a session set
    lower than the slot count wins there, and a restart after the
    session was raised keeps the checkpoint's width and its dedup."""
    import datetime as dt

    from stonkwhisperer_spark.sinks.writers import read_committed

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    landing, target, ckpt = (str(tmp_path / n) for n in ("landing", "articles", "ckpt"))
    before = spark.conf.get(WIDTH)
    try:
        spark.conf.set(WIDTH, "2")
        _drop(spark, landing, [(f"u/{i}", "t", t0) for i in range(20)])
        assert _width(_merge_drain(spark, landing, target, ckpt)) == 2
        _drop(spark, landing, [(f"u/{i}", "t-again", t0) for i in range(15, 30)])
        spark.conf.set(WIDTH, "8")
        assert _width(_merge_drain(spark, landing, target, ckpt)) == 2
    finally:
        spark.conf.set(WIDTH, before)
    urls = read_committed(spark, target).select("url")
    assert urls.count() == 30
    assert urls.distinct().count() == 30


def test_stream_start_failure_restores_session_width(spark, landing, tmp_path, monkeypatch):
    """A starter whose start() raises still restores the session's
    settings: append mode refuses an unwatermarked streaming
    aggregation, and a dedup-only query, which starts with no-data
    batches off, fails inside start()."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.streaming import DataStreamWriter

    from stonkwhisperer_spark.streaming.jobs import start_txn_append_stream

    before, no_data = spark.conf.get(WIDTH), spark.conf.get(NO_DATA)
    counts = read_landing_stream(spark, landing, NEWS_SCHEMA).groupBy().count()
    with pytest.raises(AnalysisException):
        start_txn_append_stream(counts, str(tmp_path / "tbl"), "counts", str(tmp_path / "ckpt"))
    assert (spark.conf.get(WIDTH), spark.conf.get(NO_DATA)) == (before, no_data)

    seen = []

    def failing_start(self, *args, **kwargs):
        seen.append(spark.conf.get(NO_DATA))
        raise RuntimeError("start failed")

    monkeypatch.setattr(DataStreamWriter, "start", failing_start)
    stream = read_landing_stream(spark, landing, NEWS_SCHEMA)
    with pytest.raises(RuntimeError, match="start failed"):
        start_merge_stream(
            dedup_within_watermark(stream, ["url"], "published_at"),
            str(tmp_path / "articles"),
            ["url"],
            str(tmp_path / "ckpt2"),
        )
    assert seen == ["false"]
    assert (spark.conf.get(WIDTH), spark.conf.get(NO_DATA)) == (before, no_data)


def test_concurrent_starters_restore_session_width(spark, landing, tmp_path, monkeypatch):
    """Starters racing from a thread pool each start at the slot width,
    and none restores another's narrowed value as the session's. start()
    is slowed so that the starters' narrow-start-restore windows would
    overlap if they were not serialized."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.streaming import DataStreamWriter

    start, guard = DataStreamWriter.start, threading.Lock()
    inside = {"now": 0, "peak": 0}

    def slow_start(self, *args, **kwargs):
        with guard:
            inside["now"] += 1
            inside["peak"] = max(inside["peak"], inside["now"])
        try:
            time.sleep(0.3)
            return start(self, *args, **kwargs)
        finally:
            with guard:
                inside["now"] -= 1

    monkeypatch.setattr(DataStreamWriter, "start", slow_start)
    before, no_data = spark.conf.get(WIDTH), spark.conf.get(NO_DATA)
    n = 6  # more starters than local[4] has cores

    def run(i: int) -> int:
        return _width(
            _merge_drain(spark, landing, str(tmp_path / f"t{i}"), str(tmp_path / f"c{i}"))
        )

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=n) as pool:
            widths = list(pool.map(run, range(n), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert (spark.conf.get(WIDTH), spark.conf.get(NO_DATA)) == (before, no_data)
    assert inside["peak"] == 1
    assert widths == [min(int(before), spark.sparkContext.defaultParallelism)] * n


TICK_SCHEMA = "symbol string, ts timestamp, price double"


def _sentinel_ticks(spark, tmp_path) -> str:
    """Ticks of two symbols over three minutes in one file, then a
    sentinel tick 1h later in a second file; returns the directory."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 9, 30, 0)
    rows = [
        ("AAPL", t0 + dt.timedelta(seconds=s), 100.0 + i)
        for i, s in enumerate([5, 20, 40, 65, 80, 125])
    ] + [("MSFT", t0 + dt.timedelta(seconds=10), 370.0)]
    ticks_path = str(tmp_path / "ticks")
    spark.createDataFrame(rows, TICK_SCHEMA).coalesce(1).write.parquet(ticks_path)
    # Sentinel tick 1h later in a second file: advances the watermark so
    # append mode closes (emits) every real window; its own window stays
    # open and is excluded from the comparisons.
    sentinel_ts = t0 + dt.timedelta(hours=1)
    spark.createDataFrame([("ZZZ", sentinel_ts, 0.0)], TICK_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(ticks_path)
    return ticks_path


def _bar_map(rows) -> dict:
    return {
        (r.symbol, r.bar_ts.minute): (r.open, r.high, r.low, r.close, r.n_ticks)
        for r in rows
        if r.symbol != "ZZZ"  # sentinel's own window never closes in the stream
    }


def _tick_stream(spark, ticks_path):
    return spark.readStream.schema(TICK_SCHEMA).option("maxFilesPerTrigger", 1).parquet(ticks_path)


def test_streaming_minute_bars_match_batch(spark, tmp_path):
    ticks_path = _sentinel_ticks(spark, tmp_path)
    out_path = str(tmp_path / "bars_out")
    q = (
        minute_bars(_tick_stream(spark, ticks_path), key_col="symbol", value_col="price")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _bar_map(spark.read.parquet(out_path).collect())
    batch = _bar_map(
        minute_bars(
            spark.read.parquet(ticks_path), key_col="symbol", value_col="price", watermark=None
        ).collect()
    )
    assert got == batch
    assert got[("AAPL", 30)] == (100.0, 102.0, 100.0, 102.0, 3)
    assert got[("MSFT", 30)][4] == 1


def test_windowed_append_stream_emits_windows_closed_without_input(spark, tmp_path):
    """A starter keeps Spark's no-data batches for a windowed
    aggregation: the sentinel's batch moves the watermark past every
    real window, and only the batch after it, which reads no input,
    emits them. Under availableNow the txlog table still gets every
    closed window."""
    from stonkwhisperer_spark.sinks.writers import read_committed
    from stonkwhisperer_spark.streaming.jobs import start_txn_append_stream

    ticks_path = _sentinel_ticks(spark, tmp_path)
    bars = minute_bars(_tick_stream(spark, ticks_path), key_col="symbol", value_col="price")
    target = str(tmp_path / "bars")
    q = start_txn_append_stream(bars, target, "bars", str(tmp_path / "ckpt"))
    _run(q)
    batch = _bar_map(
        minute_bars(
            spark.read.parquet(ticks_path), key_col="symbol", value_col="price", watermark=None
        ).collect()
    )
    assert len(batch) == 4
    assert _bar_map(read_committed(spark, target).collect()) == batch
    assert [p["numInputRows"] for p in q.recentProgress] == [7, 1, 0]


def test_late_data_beyond_watermark_dropped(spark, tmp_path):
    """The documented late-data policy, exercised: a tick arriving after
    the watermark passed its window is DROPPED; a late tick still inside
    the watermark is accepted and emitted when its window closes. Phased
    availableNow runs over one checkpoint make watermark progression
    deterministic (the watermark persists in the checkpoint between
    runs)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 9, 30, 0)
    schema = "symbol string, ts timestamp, price double"
    ticks_path = str(tmp_path / "ticks")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_drained():
        stream = spark.readStream.schema(schema).parquet(ticks_path)
        q = (
            minute_bars(stream, key_col="symbol", value_col="price", watermark="10 minutes")
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def bars():
        try:
            return {
                (r.symbol, r.bar_ts): r.n_ticks for r in spark.read.parquet(out_path).collect()
            }
        except Exception:
            return {}

    # Phase 1: two ticks in the t0 window + one 30 min later.
    # Watermark after the run = t0+30m - 10m = t0+20m > t0 window end,
    # so the t0 window is closed and emitted.
    spark.createDataFrame(
        [("AAPL", t0, 100.0), ("AAPL", t0 + dt.timedelta(seconds=30), 101.0),
         ("AAPL", t0 + dt.timedelta(minutes=30), 102.0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(ticks_path)
    run_drained()
    assert bars()[("AAPL", t0)] == 2

    # Phase 2: one tick 45s into the ALREADY-CLOSED t0 window (beyond
    # the watermark -> dropped), one late-but-within-watermark tick at
    # t0+25m (> watermark t0+20m -> accepted, window still open).
    spark.createDataFrame(
        [("AAPL", t0 + dt.timedelta(seconds=45), 999.0),
         ("AAPL", t0 + dt.timedelta(minutes=25), 103.0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(ticks_path)
    run_drained()
    after2 = bars()
    assert after2[("AAPL", t0)] == 2  # beyond-watermark tick dropped, no re-emit

    # Phase 3: sentinel far ahead closes every remaining window.
    spark.createDataFrame(
        [("ZZZ", t0 + dt.timedelta(hours=2), 0.0)], schema
    ).coalesce(1).write.mode("append").parquet(ticks_path)
    run_drained()
    final = bars()
    assert final[("AAPL", t0)] == 2
    assert final[("AAPL", t0 + dt.timedelta(minutes=25))] == 1  # within-watermark late tick kept
    assert ("AAPL", t0 + dt.timedelta(minutes=30)) in final


def test_merge_stream_processing_time_trigger(spark, tmp_path):
    """The long-lived deployment shape: processingTime-triggered merge
    stream picks up new landing drops continuously and stays idempotent
    on the natural key."""
    import datetime as dt
    import time

    from stonkwhisperer_spark.sinks.writers import read_committed

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "articles")
    _drop(spark, landing, [("u/1", "a", t0), ("u/2", "b", t0)])

    stream = read_landing_stream(spark, landing, NEWS_SCHEMA)
    q = start_merge_stream(
        dedup_within_watermark(stream, ["url"], "published_at"),
        target,
        ["url"],
        str(tmp_path / "ckpt"),
        available_now=False,
        processing_time="500 milliseconds",
    )

    def wait_count(n, timeout=90):
        deadline = time.time() + timeout
        while time.time() < deadline:
            try:
                df = read_committed(spark, target)
                if df is not None and df.count() == n:
                    return True
            except Exception:
                pass
            time.sleep(0.5)
        return False

    try:
        assert wait_count(2), "initial drop not merged by processingTime trigger"
        # second drop: one new url + one cross-drop dup -> exactly one insert
        _drop(spark, landing, [("u/3", "c", t0), ("u/1", "a-dup", t0)])
        assert wait_count(3), "second drop not merged (or dup not suppressed)"
    finally:
        q.stop()
    assert read_committed(spark, target).select("url").distinct().count() == 3


def test_streaming_session_windows(spark, tmp_path):
    """Native session_window over a stream: events within a 5-minute
    gap merge into one session; a longer gap splits. Cross-checks the
    batch gaps-and-islands sessionization (event_sessions) semantics on
    the same data: same session count and sizes per user."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    schema = "user string, ts timestamp"
    rows = [
        # u1: two sessions (3-event burst, 10-min gap, 2-event burst)
        ("u1", t0), ("u1", t0 + dt.timedelta(minutes=2)), ("u1", t0 + dt.timedelta(minutes=4)),
        ("u1", t0 + dt.timedelta(minutes=14)), ("u1", t0 + dt.timedelta(minutes=15)),
        # u2: one session
        ("u2", t0 + dt.timedelta(minutes=1)), ("u2", t0 + dt.timedelta(minutes=3)),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    # watermark-advancing sentinel in a second file closes all sessions
    spark.createDataFrame([("zz", t0 + dt.timedelta(hours=2))], schema).coalesce(
        1
    ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "10 minutes")
    )
    agg = stream.groupBy(
        F.session_window("ts", "5 minutes").alias("w"), F.col("user")
    ).agg(F.count("*").alias("n"))
    out = str(tmp_path / "out")
    q = (
        agg.select(F.col("w.start").alias("session_start"), "user", "n")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.user, r.session_start): r.n
        for r in spark.read.parquet(out).collect()
        if r.user != "zz"
    }
    assert got == {
        ("u1", t0): 3,
        ("u1", t0 + dt.timedelta(minutes=14)): 2,
        ("u2", t0 + dt.timedelta(minutes=1)): 2,
    }


def test_stream_stream_time_bounded_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + event-time bound:
    drained result must equal the same join run as a batch plan, and
    rows outside the lookback window must not match."""
    import datetime as dt

    from stonkwhisperer_spark.streaming.jobs import join_streams_time_bounded

    t0 = dt.datetime(2024, 1, 1, 9, 30, 0)
    ticks_schema = "symbol string, ts timestamp, price double"
    sent_schema = "symbol string, ts timestamp, score double"
    ticks_rows = [
        ("A", t0 + dt.timedelta(minutes=m), 100.0 + m) for m in (0, 5, 20)
    ] + [("B", t0, 50.0)]
    sent_rows = [
        ("A", t0 - dt.timedelta(minutes=3), 0.7),   # matches A@0, A@5 (within 10m)
        ("A", t0 + dt.timedelta(minutes=19), 0.2),  # matches A@20 only
        ("A", t0 - dt.timedelta(minutes=30), 0.9),  # too old for everything
        ("B", t0 + dt.timedelta(minutes=1), -0.4),  # future of B@0 → no match
    ]
    ticks_path, sent_path = str(tmp_path / "ticks"), str(tmp_path / "sent")
    spark.createDataFrame(ticks_rows, ticks_schema).write.parquet(ticks_path)
    spark.createDataFrame(sent_rows, sent_schema).write.parquet(sent_path)

    def joined(lf, rf):
        return join_streams_time_bounded(
            lf, rf, key="symbol", left_ts="ts", right_ts="ts", lookback="10 minutes"
        ).select(
            F.col("_l.symbol").alias("symbol"),
            F.col("_l.ts").alias("tick_ts"),
            F.col("_r.ts").alias("sent_ts"),
            "score",
        )

    batch = {
        tuple(r)
        for r in joined(
            spark.read.parquet(ticks_path), spark.read.parquet(sent_path)
        ).collect()
    }
    expected = {
        ("A", t0, t0 - dt.timedelta(minutes=3), 0.7),
        ("A", t0 + dt.timedelta(minutes=5), t0 - dt.timedelta(minutes=3), 0.7),
        ("A", t0 + dt.timedelta(minutes=20), t0 + dt.timedelta(minutes=19), 0.2),
    }
    assert batch == expected

    lf = spark.readStream.schema(ticks_schema).parquet(ticks_path)
    rf = spark.readStream.schema(sent_schema).parquet(sent_path)
    q = (
        joined(lf, rf)
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM ss_join").collect()}
    assert got == expected


def test_txn_append_stream_exactly_once(spark, tmp_path):
    """Exactly-once txlog streaming sink: an availableNow run over a
    2-file landing zone with maxFilesPerTrigger=1 commits one
    transaction per micro-batch; re-running the WHOLE stream over a
    fresh checkpoint (same app_id, same deterministic batch split)
    lands zero duplicate rows — idempotence from the commit ledger,
    not from any key."""
    import datetime as dt

    from stonkwhisperer_spark.sinks.writers import last_txn_version, read_committed
    from stonkwhisperer_spark.streaming.jobs import start_txn_append_stream

    landing = str(tmp_path / "landing")
    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    _drop(spark, landing, [(f"https://ex.com/{i}", f"t{i}", t0) for i in range(3)])
    _drop(spark, landing, [(f"https://ex.com/{i}", f"t{i}", t0) for i in range(3, 5)])

    target = str(tmp_path / "tbl")
    import os

    os.makedirs(target)

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(NEWS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q = start_txn_append_stream(stream, target, "news-ingest", ckpt)
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt1"))
    assert read_committed(spark, target).count() == 5
    assert last_txn_version(target, "news-ingest") == 1  # 2 batches: 0, 1

    run(str(tmp_path / "ckpt2"))  # full replay, fresh checkpoint
    assert read_committed(spark, target).count() == 5  # no duplicates


class _CommitThenCrash:
    """Stands in for the writer a stream sink calls. Every call runs the
    writer and records its result; the second call, epoch 1, then
    raises, so the query fails after the table commit and before its
    commit log records the epoch."""

    def __init__(self, writer):
        self.writer, self.results = writer, []

    def __call__(self, *args, **kwargs):
        self.results.append(self.writer(*args, **kwargs))
        if len(self.results) == 2:
            raise RuntimeError("crash between the table commit and the commit log")
        return self.results[-1]


def _run(q, crashes: bool = False) -> None:
    """Wait for an availableNow query to end: by the crash, or cleanly."""
    try:
        if crashes:
            with pytest.raises(StreamingQueryException, match="crash between"):
                q.awaitTermination(120)
        else:
            assert q.awaitTermination(120)
            assert q.exception() is None
    finally:
        q.stop()


def test_merge_stream_restart_replays_committed_epoch_as_zero_rows(
    spark, landing, tmp_path, monkeypatch
):
    """start_merge_stream restarted on its checkpoint after a crash
    between epoch 1's table commit and the query's commit log: the
    replayed epoch's anti-join inserts 0 rows and commits nothing."""
    from stonkwhisperer_spark.sinks.writers import _committed_version, read_committed

    target, ckpt = str(tmp_path / "articles"), str(tmp_path / "ckpt")
    sink = _CommitThenCrash(jobs.merge_append)
    monkeypatch.setattr(jobs, "merge_append", sink)

    def start():
        stream = read_landing_stream(spark, landing, NEWS_SCHEMA, max_files_per_trigger=1)
        deduped = dedup_within_watermark(stream, ["url"], "published_at")
        return start_merge_stream(deduped, target, ["url"], ckpt)

    _run(start(), crashes=True)
    assert sink.results == [2, 1]
    head = _committed_version(target)
    _run(start())
    # The replayed epoch 1, and any no-data batch after it, insert 0.
    assert sink.results[2] == 0 and sum(sink.results[2:]) == 0
    assert _committed_version(target) == head
    urls = read_committed(spark, target).select("url")
    assert urls.count() == 3 and urls.distinct().count() == 3


def test_dedup_stream_restarts_after_ending_without_no_data_batch(
    spark, landing, tmp_path, monkeypatch
):
    """A dedup-only stream ends after its last data batch, with its keys
    still in state. Restarted on the same checkpoint over a new drop
    that re-sends an earlier url inside the watermark, the dedup drops
    that url and the sink lands only the new one."""
    import datetime as dt

    from stonkwhisperer_spark.sinks.writers import read_committed

    target, ckpt = str(tmp_path / "articles"), str(tmp_path / "ckpt")
    inserted, merge = [], jobs.merge_append

    def recording(*args, **kwargs):
        inserted.append(merge(*args, **kwargs))
        return inserted[-1]

    monkeypatch.setattr(jobs, "merge_append", recording)
    assert [p["numInputRows"] for p in _merge_drain(spark, landing, target, ckpt)] == [3, 2]
    assert inserted == [2, 1]
    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    _drop(spark, landing, [("u/2", "b-resent", t0), ("u/4", "d", t0)])
    (progress,) = _merge_drain(spark, landing, target, ckpt)
    assert progress["stateOperators"][0]["customMetrics"]["numDroppedDuplicateRows"] == 1
    assert inserted == [2, 1, 1]
    urls = read_committed(spark, target).select("url")
    assert urls.count() == 4 and urls.distinct().count() == 4


def test_txn_append_stream_restart_replays_committed_epoch_as_no_op(
    spark, tmp_path, monkeypatch
):
    """start_txn_append_stream restarted on its checkpoint after a crash
    between epoch 1's table commit and the query's commit log: the
    ledger already holds (app, 1), so the replay lands 0 rows and
    commits no version."""
    import datetime as dt

    from stonkwhisperer_spark.sinks.writers import _committed_version, read_committed
    from stonkwhisperer_spark.streaming.jobs import start_txn_append_stream

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    landing, target, ckpt = (str(tmp_path / n) for n in ("landing", "tbl", "ckpt"))
    _drop(spark, landing, [(f"u/{i}", "t", t0) for i in range(3)])
    _drop(spark, landing, [(f"u/{i}", "t", t0) for i in range(3, 5)])
    sink = _CommitThenCrash(jobs.append_txn)
    monkeypatch.setattr(jobs, "append_txn", sink)

    def start():
        stream = read_landing_stream(spark, landing, NEWS_SCHEMA, max_files_per_trigger=1)
        return start_txn_append_stream(stream, target, "news-ingest", ckpt)

    _run(start(), crashes=True)
    assert sink.results == [3, 2]
    head = _committed_version(target)
    _run(start())
    assert sink.results[2:] == [0]
    assert _committed_version(target) == head
    assert read_committed(spark, target).count() == 5


def test_cdc_apply_stream_restart_replays_committed_epoch_as_no_op(
    spark, tmp_path, monkeypatch
):
    """start_cdc_apply_stream restarted on its checkpoint after a crash
    between epoch 1's replica commit and the query's commit log: the
    replica's ledger already holds (app, 1), so the replay applies
    nothing and commits no version, and the replica holds exactly the
    source's keys."""
    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        delete_where,
        merge_append,
        merge_upsert,
        read_committed,
    )
    from stonkwhisperer_spark.sources.txlog_stream import TxlogChangeFeedDataSource
    from stonkwhisperer_spark.streaming.jobs import start_cdc_apply_stream

    try:
        spark.dataSource.register(TxlogChangeFeedDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    source, replica, ckpt = (str(tmp_path / n) for n in ("source", "replica", "ckpt"))

    def rows(ks, v):
        return spark.createDataFrame([(k, v) for k in ks], "k long, v string")

    sink = _CommitThenCrash(jobs.merge_cdc_txn)
    monkeypatch.setattr(jobs, "merge_cdc_txn", sink)

    def drain(crashes: bool = False) -> None:
        _run(start_cdc_apply_stream(spark, source, replica, ["k"], "repl", ckpt), crashes)

    merge_append(spark, source, rows(range(5), "v0"), ["k"])
    drain()  # epoch 0: the insert
    merge_upsert(spark, source, rows(range(3, 7), "v1"), ["k"])
    delete_where(spark, source, F.col("k") == 0)
    drain(crashes=True)  # epoch 1: the upsert and the delete
    assert sink.results == [(5, 0, 0), (2, 2, 1)]
    head = _committed_version(replica)
    drain()  # replays epoch 1
    assert sink.results[2:] == [(0, 0, 0)]
    assert _committed_version(replica) == head
    got = {r.k: r.v for r in read_committed(spark, replica).collect()}
    assert got == {1: "v0", 2: "v0", 3: "v1", 4: "v1", 5: "v1", 6: "v1"}


def test_run_txn_merge_ingest_drains_and_replays_noop(spark, tmp_path):
    """The r13 streaming-index ingest engine at unit scale: a 3-file
    landing of (k, v) upserts drains one file per micro-batch into a
    seeded txlog table via exactly-once MERGE; the helper itself
    asserts >=2 micro-batches, both MERGE arms, and that the built-in
    replay is a structural no-op — here we additionally pin the final
    table state (update arm won, inserts landed) and the returned
    cumulative counts."""
    from pyspark.sql import functions as F

    from stonkwhisperer_spark.sinks.writers import merge_append, read_committed
    from stonkwhisperer_spark.streaming.jobs import run_txn_merge_ingest

    target = str(tmp_path / "tbl")
    seed = spark.range(10).select(
        F.col("id").alias("k"), F.lit("stale").alias("v")
    )
    merge_append(spark, target, seed, ["k"])

    landing = str(tmp_path / "landing")
    batch = spark.range(20).select(
        F.col("id").alias("k"), F.lit("fresh").alias("v")
    )
    batch.repartition(3).write.parquet(landing)

    inserted, updated = run_txn_merge_ingest(
        spark,
        landing,
        batch.schema,
        target,
        ["k"],
        "unit_ingest",
        str(tmp_path),
    )
    # keys 0-9 took the update arm, 10-19 the insert arm.
    assert (inserted, updated) == (10, 10)
    final = read_committed(spark, target)
    assert final.count() == 20
    assert final.filter(F.col("v") == "stale").count() == 0


def test_ivf_assignment_streams_through_txn_merge(spark, tmp_path):
    """The THIRD maintained index's streaming arm (the r13 queries
    cover the BM25 tf and LSH band tables; this pins the same contract
    for the IVF assignment table at unit scale): base assignments plus
    stale placeholder rows commit to a txlog table, the ingest batch's
    true (vec_id, cell) assignments arrive as a 3-file landing stream
    and MERGE keyed on vec_id via run_txn_merge_ingest (exactly-once,
    replay-proven by the helper), and the per-cell digest of the
    drained table equals the digest of the from-scratch assignment —
    streamed-ingest == rebuild, the gate ivf_assign_incremental pins
    for the batch path."""
    from pyspark.sql import functions as F

    from stonkwhisperer_spark.plans.queries_llm import _assign_digest
    from stonkwhisperer_spark.sinks.writers import merge_append, read_committed
    from stonkwhisperer_spark.streaming.jobs import run_txn_merge_ingest

    cell = (F.col("vec_id") * 37 % 7).cast("bigint")
    full = spark.range(200).select(
        F.col("id").alias("vec_id"), cell.alias("cell")
    )
    base = full.filter(F.col("vec_id") % 4 != 0)
    stale = full.filter(F.col("vec_id") % 8 == 0).select(
        "vec_id", F.lit(99).cast("bigint").alias("cell")
    )
    batch = full.filter(F.col("vec_id") % 4 == 0)

    target = str(tmp_path / "assign")
    merge_append(spark, target, base, ["vec_id"])
    merge_append(spark, target, stale, ["vec_id"])
    landing = str(tmp_path / "landing")
    batch.repartition(3).write.parquet(landing)

    inserted, updated = run_txn_merge_ingest(
        spark, landing, batch.schema, target, ["vec_id"],
        "ivf_stream_ingest", str(tmp_path),
    )
    assert inserted == 25 and updated == 25  # %8==4 insert, %8==0 update
    maintained = sorted(
        map(tuple, _assign_digest(
            read_committed(spark, target).select("vec_id", "cell")
        ).collect())
    )
    rebuilt = sorted(map(tuple, _assign_digest(full).collect()))
    assert maintained == rebuilt


def test_stream_maintained_index_retention_maintenance(spark, tmp_path):
    """The retention policy a stream-maintained index needs (the r14
    seam): a continuous foreachBatch MERGE ingest leaves one
    copy-on-write file generation per micro-batch; the maintenance
    pass — compact, then a BOUNDED-window vacuum (retain_versions=2,
    NOT the zero-retention erasure path) — reclaims the churned
    generations and bounds live file count, while (a) index CONTENTS
    never move, (b) every version inside the window still time-travels,
    and (c) a below-horizon read is refused with the retention-contract
    error, not a mid-scan FileNotFound. This is the steady-state
    storage story for a 100 TB continuously-MERGEd index: churn is
    reclaimed on a schedule, history is kept exactly as long as the
    window says."""
    import pytest

    from pyspark.sql import functions as F

    from stonkwhisperer_spark.sinks.writers import (
        committed_files,
        compact,
        merge_append,
        read_committed,
        vacuum,
    )
    from stonkwhisperer_spark.streaming.jobs import run_txn_merge_ingest

    full = spark.range(120).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("bigint").alias("band_idx"),
        F.md5(F.col("id").cast("string")).alias("band_key"),
    )
    base = full.filter(F.col("doc_id") % 3 != 0)
    stale = full.filter(F.col("doc_id") % 6 == 0).withColumn(
        "band_key", F.lit("stale")
    )
    batch = full.filter(F.col("doc_id") % 3 == 0)

    target = str(tmp_path / "idx")
    merge_append(spark, target, base, ["doc_id", "band_idx"])
    merge_append(spark, target, stale, ["doc_id", "band_idx"])
    landing = str(tmp_path / "landing")
    batch.repartition(4).write.parquet(landing)
    run_txn_merge_ingest(
        spark, landing, batch.schema, target, ["doc_id", "band_idx"],
        "retention_ingest", str(tmp_path),
    )

    want = sorted(map(tuple, read_committed(spark, target).collect()))
    files_pre = committed_files(target)
    assert compact(spark, target, min_files=1) > 0
    removed = vacuum(target, retain_versions=2)
    assert removed  # the micro-batch churn generations got reclaimed
    # The vacuum ran at head H with retain_versions=2 (cutoff H - 2)
    # and its own commit is now head = H + 1, so cutoff = head - 3.
    from stonkwhisperer_spark.sinks.writers import _committed_version

    head = _committed_version(target)
    cutoff = head - 3
    # Window intact: the cutoff version still time-travels...
    read_committed(spark, target, version=cutoff).collect()
    # ...and one below the horizon is refused by contract.
    with pytest.raises(ValueError, match="retention horizon"):
        read_committed(spark, target, version=cutoff - 1)
    # Contents never moved; the live file set shrank.
    assert sorted(map(tuple, read_committed(spark, target).collect())) == want
    assert len(committed_files(target)) < len(files_pre)


def test_drain_until_caught_up_rate_limited(spark, tmp_path):
    """VERDICT-r6 task 4: a 6-commit backlog with maxCommitsPerTrigger=2
    drains FULLY under drain_until_caught_up in >=3 micro-batches —
    where trigger(availableNow=True) on the Python source would stop
    after ONE rate-limited slice (4 rows lost). The helper must also
    stop the query itself."""
    from stonkwhisperer_spark.sinks.writers import merge_append
    from stonkwhisperer_spark.sources.txlog_stream import (
        TxlogChangeFeedDataSource,
    )
    from stonkwhisperer_spark.streaming.jobs import drain_until_caught_up

    target = str(tmp_path / "t")
    for i in range(6):
        merge_append(
            spark,
            target,
            spark.createDataFrame([(i, f"v{i}")], "k long, s string"),
            ["k"],
        )
    try:
        spark.dataSource.register(TxlogChangeFeedDataSource)
    except Exception:
        pass
    feed = (
        spark.readStream.format("stonkw_txlog_cdc")
        .option("path", target)
        .option("maxCommitsPerTrigger", 2)
        .load()
    )
    q = (
        feed.writeStream.format("memory")
        .queryName("drain_helper_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    reached = drain_until_caught_up(q, target, timeout_sec=120)
    assert reached >= 6
    assert not q.isActive  # helper stopped it
    assert spark.table("drain_helper_t").count() == 6  # FULL drain
    busy = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(busy) >= 3, (
        f"rate limit not honored: drained in {len(busy)} batches"
    )


def test_drain_until_caught_up_raises_stream_failure(spark, tmp_path):
    """A failing stream surfaces its own exception through the helper
    instead of timing out."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import merge_append
    from stonkwhisperer_spark.sources.txlog_stream import (
        TxlogChangeFeedDataSource,
    )
    from stonkwhisperer_spark.streaming.jobs import drain_until_caught_up

    target = str(tmp_path / "t")
    merge_append(
        spark,
        target,
        spark.createDataFrame([(1, "a")], "k long, s string"),
        ["k"],
    )
    try:
        spark.dataSource.register(TxlogChangeFeedDataSource)
    except Exception:
        pass
    feed = (
        spark.readStream.format("stonkw_txlog_cdc")
        .option("path", target)
        .load()
    )

    def boom(batch_df, _epoch):
        raise RuntimeError("sink exploded")

    q = (
        feed.writeStream.foreachBatch(boom)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    with pytest.raises(Exception, match="sink exploded|Terminated with exception"):
        drain_until_caught_up(q, target, timeout_sec=60)
    assert not q.isActive


def test_available_now_wrapper_full_drain(spark, tmp_path):
    """VERDICT-r7 task 7 (amended): PythonMicroBatchStream never
    implements SupportsTriggerAvailableNow (true for the full AND the
    Simple reader — the simple reader is wrapped into the same JVM
    class), so bridge-native availableNow comes from Spark's
    triggerAvailableNowWrapper instead. An UNratelimited txlog
    subscription under the wrapper drains the whole backlog in one
    captured-target batch and terminates natively; run_available_now
    verifies coverage."""
    from stonkwhisperer_spark.sinks.writers import merge_append
    from stonkwhisperer_spark.sources.txlog_stream import (
        TxlogChangeFeedDataSource,
    )
    from stonkwhisperer_spark.streaming.jobs import (
        enable_available_now_wrapper,
        run_available_now,
    )

    target = str(tmp_path / "t")
    for i in range(5):
        merge_append(
            spark,
            target,
            spark.createDataFrame([(i, f"v{i}")], "k long, s string"),
            ["k"],
        )
    try:
        spark.dataSource.register(TxlogChangeFeedDataSource)
    except Exception:
        pass
    enable_available_now_wrapper(spark)
    q = (
        spark.readStream.format("stonkw_txlog_cdc")
        .option("path", target)
        .load()
        .writeStream.format("memory")
        .queryName("wrapper_full_drain")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    reached = run_available_now(q, target, timeout_sec=120)
    assert reached == 5
    assert not q.isActive  # wrapper terminated the query natively
    assert spark.table("wrapper_full_drain").count() == 5


def test_available_now_wrapper_rate_limited_stops_short(spark, tmp_path):
    """Pins the wrapper's one footgun so a Spark behavior change is
    noticed: with a hand-rolled rate limit (maxCommitsPerTrigger) the
    wrapper captures the FIRST latestOffset() slice as its final
    target and stops short — which run_available_now must turn into a
    loud AssertionError, never a silent partial table. Rate-limited
    drains therefore stay on processingTime + drain_until_caught_up
    (test_drain_until_caught_up_rate_limited)."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import merge_append
    from stonkwhisperer_spark.sources.txlog_stream import (
        TxlogChangeFeedDataSource,
    )
    from stonkwhisperer_spark.streaming.jobs import (
        enable_available_now_wrapper,
        run_available_now,
    )

    target = str(tmp_path / "t")
    for i in range(6):
        merge_append(
            spark,
            target,
            spark.createDataFrame([(i, f"v{i}")], "k long, s string"),
            ["k"],
        )
    try:
        spark.dataSource.register(TxlogChangeFeedDataSource)
    except Exception:
        pass
    enable_available_now_wrapper(spark)
    q = (
        spark.readStream.format("stonkw_txlog_cdc")
        .option("path", target)
        .option("maxCommitsPerTrigger", 2)
        .load()
        .writeStream.format("memory")
        .queryName("wrapper_stops_short")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(AssertionError, match="stopped short"):
        run_available_now(q, target, timeout_sec=120)
    # the stop-short itself: exactly one 2-commit slice was drained
    assert spark.table("wrapper_stops_short").count() == 2


def test_parse_offset_degrades_gracefully():
    """ADVICE r7: malformed or foreign progress endOffset entries must
    degrade to None (continued polling / timeout), never raise inside
    the poll loop."""
    from stonkwhisperer_spark.streaming.jobs import parse_offset

    assert parse_offset({"version": 3}) == {"version": 3}
    assert parse_offset('{"version": 3}') == {"version": 3}
    assert parse_offset("{'version': 3}") == {"version": 3}  # dict repr
    assert parse_offset("[1, 2]") is None  # parses, not a dict
    assert parse_offset("not an offset {") is None  # unparseable
    assert parse_offset(7) is None
    assert parse_offset(None) is None
