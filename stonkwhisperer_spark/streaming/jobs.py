"""Structured Streaming jobs (SURVEY.md §2.9, build plan M4).

The reference ingests by daily batch poll; its streaming-equivalent
semantics map to:

  * landing-zone file source with ``maxFilesPerTrigger`` — the
    "newest-first, limit N" polling rate limit (extraction.py:116-119);
  * event-time watermark + ``dropDuplicatesWithinWatermark`` — the
    in-stream half of the url/reddit_id dedup (loading.py:150-161);
    cross-run dedup stays in the ``foreachBatch`` merge (the
    merge_append sink), exactly the split SURVEY §2.9 prescribes;
  * tumbling-window minute bars over raw ticks — the aggregation the
    reference outsources to its bar vendor (extraction.py:196-222),
    with ``min_by``/``max_by`` open/close picks;
  * ``foreachBatch`` merge-append — per-micro-batch idempotent insert,
    so a replayed micro-batch (at-least-once delivery) lands 0 rows.

State stays bounded: every stateful op (dedup, window agg) sits behind
the watermark, so state for closed windows/expired keys is evicted —
the property that keeps a 100 TB/day stream from accumulating unbounded
executor state. Every starter here starts its query through
:func:`_start`, at the task-slot width, so a micro-batch commits one
state store per slot rather than one per batch shuffle partition.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from stonkwhisperer_spark.sinks.writers import (
    _committed_version,
    append_txn,
    merge_append,
    merge_cdc_txn,
    merge_upsert_txn,
)

# Held by _start from foreachBatch to the restore, so two starters on one
# session cannot restore each other's narrowed settings as the originals.
_START_LOCK = threading.Lock()

_WIDTH = "spark.sql.shuffle.partitions"
_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"

# Logical nodes that output a row only for an input row of the same
# micro-batch: a plan of these alone emits nothing in a batch that reads
# no input. The dedups evict state on watermark advance but emit nothing
# then. Every other node (an aggregate, a join, arbitrary state) may emit
# when the watermark passes, so it keeps the session's setting.
_SILENT_WITHOUT_INPUT = frozenset(
    {
        "Project",
        "Filter",
        "SubqueryAlias",
        "EventTimeWatermark",
        "Deduplicate",
        "DeduplicateWithinWatermark",
        "StreamingRelation",
        "StreamingRelationV2",
    }
)


def _silent_without_input(stream_df: DataFrame) -> bool:
    """Whether every node of ``stream_df``'s analyzed plan is in
    :data:`_SILENT_WITHOUT_INPUT`, so a no-data micro-batch of its query
    can output no row."""
    stack = [stream_df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() not in _SILENT_WITHOUT_INPUT:
            return False
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return True


def _start(
    stream_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str,
    **trigger: str | bool,
) -> StreamingQuery:
    """Start a ``foreachBatch(sink)`` query over ``stream_df`` at
    ``min(spark.sql.shuffle.partitions, defaultParallelism)`` shuffle
    partitions: one state store and one task per task slot, not the
    batch width. ``trigger`` is one ``DataStreamWriter.trigger``
    keyword, or none for Spark's default trigger.

    ``start()`` clones the session and the first micro-batch records
    the width in the offset log, so it holds for the checkpoint's life:
    the state stores and every shuffle inside ``foreachBatch`` run at
    it, and a restart from an existing checkpoint keeps the width that
    checkpoint was first started with. A session setting below the
    slot count wins.

    A query whose analyzed plan cannot output a row without new input
    (every node in :data:`_SILENT_WITHOUT_INPUT`: projections, filters,
    watermarks, dedups and the stream relation) also starts with
    ``spark.sql.streaming.noDataMicroBatches.enabled=false``. Spark
    then runs no micro-batch that reads no input only to advance the
    watermark: a dedup evicts its expired keys at the next data batch
    instead, and its committed rows are the same. Any other node, such
    as the aggregate of :func:`minute_bars`, keeps the session's
    setting, because a window that only the watermark's advance closes
    is emitted by a no-data batch. The rule is not moved into the sink
    (returning early from an empty batch): a ``foreachBatch`` sink that
    does not evaluate a stateful batch fails the query in Spark 4.1.2
    with ``stateStoreCommitValidationFailed``, so the stateful operator
    must run on every batch that Spark starts. Spark reads this setting
    when the query starts, not from the checkpoint, so a restart
    decides it again.

    The session's own settings are changed only while the query starts
    and are restored whether ``start()`` returns or raises; a batch
    query that another thread plans on the same session inside that
    window plans at the narrowed width.

    The lock also covers ``foreachBatch``: its first call in a process
    starts PySpark's callback server by an unguarded check-then-act,
    which concurrent first calls race on."""
    spark = stream_df.sparkSession
    silent = _silent_without_input(stream_df)
    with _START_LOCK:
        width = spark.conf.get(_WIDTH)
        start_with = {_WIDTH: str(min(int(width), spark.sparkContext.defaultParallelism))}
        if silent:
            start_with[_NO_DATA] = "false"
        prev = {key: spark.conf.get(key) for key in start_with}
        try:
            for key, value in start_with.items():
                spark.conf.set(key, value)
            writer = (
                stream_df.writeStream.foreachBatch(sink)
                .option("checkpointLocation", checkpoint)
                .outputMode(output_mode)
            )
            return (writer.trigger(**trigger) if trigger else writer).start()
        finally:
            for key, value in prev.items():
                spark.conf.set(key, value)


def read_landing_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing zone of parquet drops.
    ``max_files_per_trigger`` is the source-side rate limit (F3)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def dedup_within_watermark(
    df: DataFrame, keys: Sequence[str], ts_col: str, delay: str = "10 minutes"
) -> DataFrame:
    """In-stream dedup on the natural key, state bounded by the
    watermark. Cross-run dupes are the merge sink's job."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(list(keys))


def minute_bars(
    ticks: DataFrame,
    ts_col: str = "ts",
    key_col: str = "symbol",
    value_col: str = "price",
    watermark: str = "10 minutes",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Tumbling 1-minute OHLCV per key over a tick stream (same shape
    as the batch ohlcv_1min flagship; works on batch frames too when
    ``watermark=None``). Late ticks beyond the watermark are dropped —
    the documented late-data policy. Pass ``tiebreak_col`` to make the
    open/close picks deterministic when two ticks share a timestamp
    (composite (ts, tiebreak) ordering, same discipline as the batch
    ohlcv_1min)."""
    src = ticks.withWatermark(ts_col, watermark) if watermark else ticks
    v, t = F.col(value_col), F.col(ts_col)
    order = F.struct(t, F.col(tiebreak_col)) if tiebreak_col else t
    return (
        src.groupBy(F.window(t, "1 minute").alias("w"), F.col(key_col))
        .agg(
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            F.count("*").alias("n_ticks"),
        )
        .select(
            F.col("w.start").alias("bar_ts"), key_col, "open", "high", "low", "close", "n_ticks"
        )
    )


def start_merge_stream(
    stream_df: DataFrame,
    target_path: str,
    keys: Sequence[str],
    checkpoint: str,
    available_now: bool = True,
    processing_time: str | None = None,
) -> StreamingQuery:
    """foreachBatch merge-append sink: each micro-batch left-anti joins
    the target on ``keys`` and appends only new rows — replayed batches
    insert 0 (per-batch idempotence on top of checkpoint exactly-once).
    ``available_now=True`` drains the backlog then stops (the batch-
    shaped trigger used in tests and backfills);
    ``processing_time='5 seconds'`` instead runs continuously, firing a
    micro-batch per interval — the long-lived ingest deployment shape.

    Over :func:`dedup_within_watermark` (or any plan that cannot output
    a row without input, see :func:`_start`) the query runs no no-data
    micro-batch: a drain of N drops is N micro-batches, and the dedup
    evicts expired keys at the next data batch instead of in a batch of
    its own. The sink always merges the batch Spark hands it; returning
    early from an empty one fails a stateful query in Spark 4.1.2
    (``stateStoreCommitValidationFailed``)."""

    def sink(batch_df: DataFrame, _epoch: int) -> None:
        merge_append(batch_df.sparkSession, target_path, batch_df, keys)

    if processing_time is not None:
        trigger = {"processingTime": processing_time}
    else:
        trigger = {"availableNow": True} if available_now else {}
    return _start(stream_df, sink, checkpoint, "update", **trigger)


def start_txn_append_stream(
    stream_df: DataFrame,
    target_path: str,
    app_id: str,
    checkpoint: str,
) -> StreamingQuery:
    """EXACTLY-ONCE streaming sink into the parquet txlog — the Delta
    ``writeStream.format("delta")`` contract: each micro-batch commits
    via :func:`append_txn` with (app_id, epoch_id) as the transaction
    identity, so a micro-batch replayed after a checkpoint recovery
    lands zero duplicate rows — and a whole re-run over a FRESH
    checkpoint with the same app_id is likewise a no-op whenever its
    epoch numbering realigns (deterministic source + fixed per-trigger
    limits; Delta's txnAppId/txnVersion carries the same caveat — the
    ledger keys on declared transaction identity, not row content).
    This upgrades
    foreachBatch's native at-least-once delivery to exactly-once table
    contents WITHOUT any key-based dedup: idempotence comes from the
    commit ledger, not the data, so it holds even for tables with no
    natural key.

    Blind append per batch — no target read, O(micro-batch) cost
    regardless of table size; the scalable continuous-ingest shape for
    a 100 TB table (contrast :func:`start_merge_stream`, which pays a
    key anti-join per batch for cross-source dedup). Runs under
    ``Trigger.AvailableNow``: drains the backlog, then stops."""
    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        append_txn(batch_df.sparkSession, target_path, batch_df, app_id, epoch_id)

    return _start(stream_df, sink, checkpoint, "append", availableNow=True)


def run_txn_merge_ingest(
    spark: SparkSession,
    landing: str,
    schema: T.StructType,
    target_path: str,
    keys: Sequence[str],
    app_id: str,
    checkpoint_root: str,
) -> tuple[int, int]:
    """Exactly-once streaming MERGE ingest, drained and then PROVEN
    replay-safe — the shared engine of the r13 index-maintenance
    streaming arm (bm25_index_stream_upsert / minhash_index_stream_
    upsert):

    1. a file-source stream over ``landing``, one file per trigger,
       drains under ``Trigger.AvailableNow`` into ``target_path`` via
       per-micro-batch :func:`sinks.writers.merge_upsert_txn` keyed
       (``app_id``, epoch) — Delta's ``foreachBatch + txnVersion``
       pattern;
    2. the drain is asserted to have split across >=2 micro-batches
       (genuinely a stream, not a single batch in disguise) with both
       MERGE arms non-empty cumulatively;
    3. the WHOLE stream re-runs over a fresh checkpoint and must
       re-present the same number of micro-batches (a zero-batch replay
       would pass the no-op checks vacuously) while applying ZERO rows
       and leaving the committed version unmoved — the txn ledger makes
       the replay structurally a no-op, which key-level idempotence
       alone could not (a replayed old batch would resurrect stale
       values over a later batch's rows).

    Returns the first drain's cumulative (inserted, updated).

    Each drain starts at the task-slot width (:func:`_start`), so the
    per-micro-batch MERGE shuffles run one task per slot; each drain
    must finish within 300 s.

    Scale: per poll interval this is the batch path's O(batch) keyed
    copy-on-write MERGE; checkpoint + ledger give exactly-once table
    contents end-to-end; the maintained table is the only state — no
    watermark, no state store."""
    key_cols = list(keys)
    arms: list[tuple[int, int]] = []

    def sink(mb: DataFrame, epoch_id: int) -> None:
        arms.append(
            merge_upsert_txn(
                mb.sparkSession, target_path, mb, key_cols, app_id, epoch_id
            )
        )

    def drain(ckpt: str) -> None:
        q = _start(
            read_landing_stream(spark, landing, schema, max_files_per_trigger=1),
            sink,
            ckpt,
            "update",
            availableNow=True,
        )
        try:
            if not q.awaitTermination(300):
                raise TimeoutError(
                    f"ingest stream over {landing} did not drain within 300s"
                )
        finally:
            q.stop()
        exc = q.exception()
        if exc is not None:
            raise exc

    drain(f"{checkpoint_root}/ckpt1")
    if len(arms) < 2:
        raise AssertionError(
            f"ingest drained in {len(arms)} micro-batch(es) — the rate "
            "limit did not split the backlog; not a stream"
        )
    inserted = sum(a[0] for a in arms)
    updated = sum(a[1] for a in arms)
    if inserted == 0 or updated == 0:
        raise AssertionError(
            f"MERGE arms not both exercised across the drain: "
            f"inserted={inserted}, updated={updated}"
        )
    v_before, n_before = _committed_version(target_path), len(arms)
    drain(f"{checkpoint_root}/ckpt2")
    replayed = arms[n_before:]
    if len(replayed) != n_before:
        raise AssertionError(
            f"replay presented {len(replayed)} micro-batch(es), expected "
            f"{n_before} — a short replay would pass the no-op checks "
            "vacuously"
        )
    if sum(i + u for i, u in replayed) != 0:
        raise AssertionError(f"replayed stream applied rows: {replayed}")
    if _committed_version(target_path) != v_before:
        raise AssertionError("replayed stream moved the committed version")
    return inserted, updated


def start_cdc_apply_stream(
    spark: SparkSession,
    source_path: str,
    target_path: str,
    keys: Sequence[str],
    app_id: str,
    checkpoint: str,
) -> StreamingQuery:
    """Stream one txlog table's change-data feed INTO another — the
    canonical CDF consumer (Delta's "replicate a table with
    readStream.option('readChangeFeed') + foreachBatch MERGE"):
    subscribe to the source's typed change feed
    (``format("stonkw_txlog_cdc")``), and per micro-batch apply the
    LATEST change per key to the target via the idempotent
    :func:`sinks.writers.merge_upsert_txn`.

    A micro-batch may span several source commits, so a key can carry
    multiple images; the reduction keeps the newest change per key by
    ``_commit_version`` — an insert/update_postimage upserts, a
    ``delete`` row DELETES the replica key (pre-images are observers'
    data, not state), so the replica tracks the source through the
    full insert/update/delete lifecycle instead of only growing.
    Exactly-once: the (app_id, epoch_id) transaction marker makes
    replayed batches structural no-ops — necessary with upserts, where
    key-level idempotence alone would let a replayed old batch
    resurrect stale values over a later batch's rows.

    Scale: the feed is O(changed rows) per poll (never a source table
    scan), the reduction is one bounded shuffle on the merge keys, and
    the merge rewrites only the target files owning matched keys —
    end-to-end O(delta) replication for a 100 TB source. Runs under
    ``Trigger.AvailableNow``: drains the feed, then stops."""
    key_cols = list(keys)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        latest = (
            batch_df.filter(
                F.col("_change_type").isin(
                    "insert", "update_postimage", "delete"
                )
            )
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(*key_cols).orderBy(
                        F.col("_commit_version").desc()
                    )
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_commit_version")
        )
        # merge_cdc_txn pins the reduced batch to JVM-local blocks once,
        # on the first commit attempt the txn ledger admits, so a real
        # apply executes the Python-data-source feed exactly once and a
        # replayed epoch, stopped by the ledger, executes it zero times
        # — see the merge engine's apply_changes note and
        # docs/BENCH_METHOD.md round 15.
        merge_cdc_txn(
            batch_df.sparkSession,
            target_path,
            latest,
            key_cols,
            app_id,
            epoch_id,
        )

    stream = (
        spark.readStream.format("stonkw_txlog_cdc")
        .option("path", source_path)
        .load()
    )
    return _start(stream, sink, checkpoint, "append", availableNow=True)


def join_streams_time_bounded(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join: right-side rows match left-side rows
    with the same ``key`` whose event time falls in
    ``[left_ts - lookback, left_ts]`` — e.g. "attach every sentiment
    score published in the 10 minutes before each tick".

    Both sides carry watermarks AND the join condition bounds event
    time — the two requirements that let Spark evict buffered rows:
    state per side is (watermark + lookback) of data per key, never
    history. Without the time bound the state store grows forever;
    this helper makes the bound impossible to forget. Works on batch
    frames too (watermarks are a no-op there) — the parity surface
    the test uses."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    lc, rc = F.col(f"_l.{left_ts}"), F.col(f"_r.{right_ts}")
    return lw.alias("_l").join(
        rw.alias("_r"),
        (F.col(f"_l.{key}") == F.col(f"_r.{key}"))
        & (rc >= lc - F.expr(f"INTERVAL {lookback}"))
        & (rc <= lc),
    )


def enable_available_now_wrapper(spark: SparkSession) -> None:
    """Turn on Spark's ``AvailableNowDataStreamWrapper`` for sources —
    like every Python data source (``PythonMicroBatchStream`` does not
    implement ``SupportsTriggerAvailableNow``; verified against the
    Spark 4.1.2 class files) — that would otherwise downgrade
    ``Trigger.AvailableNow`` to single-batch execution with a WARN.
    With the wrapper, an UNratelimited txlog CDC subscription under
    ``availableNow`` captures the head commit version at start, drains
    to exactly that offset, and terminates natively — no drain-polling
    helper, no downgrade warning.

    The wrapper's own one-line activation WARN advises "extreme care"
    because it assumes the delegate's ``latestOffset`` is deterministic
    and replay-stable. The txlog source's offsets are committed log
    versions — deterministic by construction (CAS-committed, replayed
    via ``partitions(start, end)``) — so the advisory does not apply;
    we suppress that single logger rather than the message class it
    guards. DO NOT combine the wrapper with ``maxCommitsPerTrigger``:
    the wrapper treats the FIRST ``latestOffset()`` result as the final
    target, so a rate-limited reader stops after one slice (verified
    empirically; ``tests/test_streaming.py`` pins the behavior). Rate-
    limited drains use ``processingTime`` + :func:`drain_until_caught_up`;
    :func:`run_available_now` raises loudly if a stream stopped short."""
    spark.conf.set("spark.sql.streaming.triggerAvailableNowWrapper.enabled", "true")
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.streaming.runtime."
            "AvailableNowMicroBatchStreamWrapper",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # noqa: BLE001 — cosmetic; the conf is what matters
        pass


def parse_offset(eo) -> dict | None:
    """Parse a streaming-progress endOffset into a dict, or None if it
    isn't one. The Python-source bridge serializes offsets as JSON or
    dict-repr strings depending on path; malformed/foreign entries
    degrade to None (ADVICE r7: never let a progress sample raise an
    unrelated AttributeError inside a poll loop)."""
    import ast as _ast
    import json as _json

    if isinstance(eo, dict):
        return eo
    if not isinstance(eo, str):
        return None
    try:
        off = _json.loads(eo)
    except _json.JSONDecodeError:
        try:
            off = _ast.literal_eval(eo)
        except (ValueError, SyntaxError):
            return None
    return off if isinstance(off, dict) else None


def run_available_now(
    query: StreamingQuery,
    table_path: str,
    timeout_sec: float = 300.0,
) -> int:
    """Await an ``availableNow``-triggered txlog CDC stream (started
    under :func:`enable_available_now_wrapper`) and VERIFY it drained
    the whole backlog: after natural termination, the last completed
    batch's end offset must cover every commit present at call time.
    The assert is the guard against the wrapper's one known footgun —
    a rate-limited reader silently stopping after its first slice.
    Returns the commit version reached.

    Scale: one driver-side blocking await plus O(1) log metadata; no
    polling, no empty micro-batches — the wrapper terminates the query
    the moment the captured offset is reached."""
    head = _committed_version(table_path)
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError(
            f"availableNow stream over {table_path} still running "
            f"after {timeout_sec}s"
        )
    exc = query.exception()
    if exc is not None:
        raise exc
    reached = -1
    p = query.lastProgress
    if p and p.get("sources"):
        off = parse_offset(p["sources"][0].get("endOffset"))
        if off is not None:
            reached = int(off.get("version", -1))
    if reached < head:
        raise AssertionError(
            f"availableNow stream over {table_path} terminated at commit "
            f"version {reached} but the head is {head} — stopped short "
            "(rate-limited reader under the availableNow wrapper? use "
            "processingTime + drain_until_caught_up for that path)"
        )
    return reached


def drain_until_caught_up(
    query: StreamingQuery,
    table_path: str,
    timeout_sec: float = 300.0,
    poll_sec: float = 0.05,
) -> int:
    """Drain-until-caught-up for a RATE-LIMITED txlog CDC subscription
    (``maxCommitsPerTrigger`` set). Unratelimited drains should use
    ``Trigger.AvailableNow`` + :func:`enable_available_now_wrapper` +
    :func:`run_available_now` instead — native single-batch drain, no
    polling. This helper exists because no availableNow path can honor
    the rate limit: the plain bridge downgrades to ONE micro-batch (one
    slice, silent stop-short) and the wrapper captures the first
    ``latestOffset()`` slice as its final target (same stop-short,
    verified empirically).

    Start the stream with a ``processingTime`` trigger (e.g.
    ``processing_time="0 seconds"``) and call this helper: it blocks
    until a COMPLETED micro-batch's end offset covers every commit
    present at call time — the rate limit simply spreads the backlog
    over several micro-batches — then stops the query. Returns the
    commit version reached. Raises the query's own exception if it
    fails, or TimeoutError past ``timeout_sec``.

    Scale: pure driver-side progress polling — no extra Spark jobs, no
    data reads beyond what the stream itself plans."""
    import time as _time

    head = _committed_version(table_path)
    deadline = _time.monotonic() + timeout_sec
    reached = -1
    try:
        while _time.monotonic() < deadline:
            exc = query.exception()
            if exc is not None:
                raise exc
            p = query.lastProgress
            if p and p.get("sources"):
                off = parse_offset(p["sources"][0].get("endOffset"))
                if off is not None:
                    reached = int(off.get("version", -1))
                    if reached >= head:
                        return reached
            _time.sleep(poll_sec)
        raise TimeoutError(
            f"stream did not catch up to commit version {head} at "
            f"{table_path} within {timeout_sec}s (reached {reached})"
        )
    finally:
        query.stop()
