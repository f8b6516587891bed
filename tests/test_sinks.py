"""Sink property tests (SURVEY.md §5.4): partition layout and the
idempotence invariant — re-running a batch inserts 0 rows
(reference loading.py:150-161)."""

from __future__ import annotations

import contextlib
import os
import time

import pytest
from pyspark.sql import functions as F

from stonkwhisperer_spark.sinks.writers import merge_append, upsert_bars, write_partitioned


def _articles(spark, n=20, offset=0):
    return spark.range(offset, offset + n).select(
        F.concat(F.lit("https://ex.com/"), F.col("id")).alias("url"),
        F.concat(F.lit("title "), F.col("id")).alias("title"),
    )


def test_write_partitioned_layout(spark, tmp_path):
    path = str(tmp_path / "landing")
    write_partitioned(_articles(spark), path)
    parts = [d for d in os.listdir(path) if d.startswith("ingestion_date=")]
    assert len(parts) == 1
    assert spark.read.parquet(path).count() == 20


def test_merge_append_idempotent(spark, tmp_path):
    path = str(tmp_path / "articles")
    batch = _articles(spark)
    assert merge_append(spark, path, batch, ["url"]) == 20
    # the reference invariant: re-run => 0 new rows
    assert merge_append(spark, path, batch, ["url"]) == 0
    assert spark.read.parquet(path).count() == 20
    # overlapping batch: only genuinely-new keys insert
    assert merge_append(spark, path, _articles(spark, n=20, offset=10), ["url"]) == 10
    assert spark.read.parquet(path).count() == 30


def test_merge_append_dedups_batch(spark, tmp_path):
    path = str(tmp_path / "dedup")
    dup_batch = _articles(spark, n=5).unionByName(_articles(spark, n=5))
    assert merge_append(spark, path, dup_batch, ["url"]) == 5


def test_upsert_bars_resolves_fk_and_skips_unknown(spark, tmp_path):
    path = str(tmp_path / "bars")
    companies = spark.createDataFrame(
        [("c1", "AAPL"), ("c2", "MSFT")], "id string, ticker string"
    )
    bars = spark.createDataFrame(
        [
            ("AAPL", "2024-01-02 09:30:00", 190.0),
            ("MSFT", "2024-01-02 09:30:00", 370.0),
            ("NOPE", "2024-01-02 09:30:00", 1.0),  # unknown ticker -> skipped
        ],
        "ticker string, bar_ts string, close double",
    ).withColumn("bar_ts", F.col("bar_ts").cast("timestamp_ntz"))
    assert upsert_bars(spark, path, bars, companies) == 2
    out = spark.read.parquet(path)
    assert set(out.columns) >= {"company_id", "bar_ts", "close", "bar_date"}
    assert out.count() == 2
    # composite-key idempotence (company_id, bar_ts)
    assert upsert_bars(spark, path, bars, companies) == 0
    # partition layout: hypertable-style date partitions
    assert any(d.startswith("bar_date=") for d in os.listdir(path))


def test_concurrent_merge_no_duplicates(spark, tmp_path):
    """The K2 gap, closed: two merge writers racing on the same target
    cannot land duplicate keys. Fault injection forces the worst
    interleaving — writer B snapshots the target, stages its insert
    files, and THEN (via the pre-commit hook) writer A's full merge
    lands first. B's CAS on the log version must fail, making B delete
    its staged files, recompute its anti-join against A's committed
    rows, and insert 0."""
    from stonkwhisperer_spark.sinks.writers import merge_append, read_committed

    target = str(tmp_path / "t")
    base = spark.createDataFrame([("k1", 1)], "k string, v int")
    assert merge_append(spark, target, base, ["k"]) == 1

    batch = spark.createDataFrame([("k2", 2), ("k3", 3)], "k string, v int")
    a_result = {}

    def writer_a_sneaks_in():
        # Run once: B's retry attempt must not re-trigger A.
        if not a_result:
            a_result["n"] = merge_append(spark, target, batch, ["k"])

    b_inserted = merge_append(
        spark, target, batch, ["k"], _pre_commit_hook=writer_a_sneaks_in
    )
    assert a_result["n"] == 2  # A won the race
    assert b_inserted == 0  # B detected the collision and retried to a no-op

    plain = spark.read.parquet(target)
    assert plain.count() == 3
    assert plain.groupBy("k").count().filter("count > 1").count() == 0
    # The committed view agrees with the plain view — no orphans left.
    committed = read_committed(spark, target)
    assert committed is not None and committed.count() == 3

    # ...and the serial path stays idempotent on the same target.
    assert merge_append(spark, target, batch, ["k"]) == 0


def test_concurrent_merge_threaded_stress(spark, tmp_path):
    """Four writers with overlapping batches race for real (threads,
    shared local SparkContext): every key must land exactly once and
    the summed insert counts must equal the distinct-key total."""
    import threading

    from stonkwhisperer_spark.sinks.writers import merge_append

    target = str(tmp_path / "t")
    batches = [
        [("k1", 1), ("k2", 2)],
        [("k2", 2), ("k3", 3)],
        [("k3", 3), ("k4", 4)],
        [("k4", 4), ("k1", 1)],
    ]
    inserted = [0] * len(batches)
    barrier = threading.Barrier(len(batches))

    def run(i):
        df = spark.createDataFrame(batches[i], "k string, v int")
        barrier.wait()
        inserted[i] = merge_append(spark, target, df, ["k"])

    threads = [threading.Thread(target=run, args=(i,)) for i in range(len(batches))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    out = spark.read.parquet(target)
    assert out.count() == 4
    assert out.groupBy("k").count().filter("count > 1").count() == 0
    assert sum(inserted) == 4


def test_vacuum_orphans_removes_crashed_stage(spark, tmp_path):
    """A file that reached the table root without a commit manifest (a
    writer that died between stage and CAS) is invisible to
    read_committed and removed by vacuum_orphans."""
    from stonkwhisperer_spark.sinks.writers import (
        _STALE_S,
        merge_append,
        read_committed,
        vacuum_orphans,
    )

    target = str(tmp_path / "t")
    assert merge_append(
        spark, target, spark.createDataFrame([("k1", 1)], "k string, v int"), ["k"]
    ) == 1
    # Simulate the crash: an orphan data file with no manifest entry.
    orphan_src = spark.createDataFrame([("zombie", 9)], "k string, v int")
    orphan_dir = str(tmp_path / "orphan")
    orphan_src.coalesce(1).write.parquet(orphan_dir)
    part = next(f for f in os.listdir(orphan_dir) if f.endswith(".parquet"))
    os.replace(
        os.path.join(orphan_dir, part), os.path.join(target, "part-orphan.parquet")
    )

    assert spark.read.parquet(target).count() == 2  # plain read sees the orphan
    assert read_committed(spark, target).count() == 1  # committed view does not
    stale = time.time() - 2 * _STALE_S  # past the sweep's in-flight bound
    os.utime(os.path.join(target, "part-orphan.parquet"), (stale, stale))
    assert vacuum_orphans(target) == ["part-orphan.parquet"]
    assert spark.read.parquet(target).count() == 1


def test_ensure_table_catalog_ddl_and_pruning(spark, tmp_path):
    """K6 end-to-end: upsert_bars writes the bar_date-partitioned
    layout, ensure_table registers the declared contract as a real
    catalog table, and a bar_date predicate prunes partitions at the
    scan (the hypertable chunk-exclusion equivalent)."""
    import datetime as dt

    from pyspark.sql import types as T

    from stonkwhisperer_spark.sinks.writers import ensure_table, upsert_bars

    target = str(tmp_path / "bars")
    rows = [
        ("AAPL", dt.datetime(2024, 1, d, 9, 30), 190.0, 191.0, 189.0, 190.5, 190.2, 100, 5)
        for d in (2, 3, 4)
    ]
    bars = spark.createDataFrame(
        rows,
        "ticker string, bar_ts timestamp, open double, high double, low double,"
        " close double, vwap double, volume int, trade_count int",
    )
    companies = spark.createDataFrame([("c1", "AAPL")], "id string, ticker string")
    assert upsert_bars(spark, target, bars, companies) == 3

    table_schema = T.StructType(
        [f for f in spark.read.parquet(target).schema.fields if f.name != "bar_date"]
        + [T.StructField("bar_date", T.DateType())]
    )
    spark.sql("DROP TABLE IF EXISTS stock_bars_t")
    ensure_table(spark, "stock_bars_t", table_schema, target, ["bar_date"])
    try:
        q = spark.sql("SELECT ticker, volume FROM stock_bars_t WHERE bar_date = DATE'2024-01-03'")
        assert q.count() == 1
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(bar_date" in plan  # pruning reaches the scan

        # the catalog table tracks later path-written partitions after repair
        more = spark.createDataFrame(
            [("AAPL", dt.datetime(2024, 1, 5, 9, 30), 1.0, 1.0, 1.0, 1.0, 1.0, 1, 1)],
            bars.schema,
        )
        assert upsert_bars(spark, target, more, companies) == 1
        spark.sql("MSCK REPAIR TABLE stock_bars_t")
        assert spark.table("stock_bars_t").count() == 4
    finally:
        spark.sql("DROP TABLE IF EXISTS stock_bars_t")


def test_table_changes_cdc_and_time_travel(spark, tmp_path):
    """The txlog doubles as a change-data feed and a time-travel index:
    table_changes(from_version) returns exactly the rows later commits
    inserted, and read_committed(version=N) reproduces the snapshot as
    of commit N."""
    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        merge_append,
        read_committed,
        table_changes,
    )

    target = str(tmp_path / "t")
    b1 = spark.createDataFrame([("k1", 1), ("k2", 2)], "k string, v int")
    b2 = spark.createDataFrame([("k2", 2), ("k3", 3)], "k string, v int")
    assert merge_append(spark, target, b1, ["k"]) == 2
    v1 = _committed_version(target)
    assert merge_append(spark, target, b2, ["k"]) == 1

    changes = table_changes(spark, target, from_version=v1)
    assert [(r.k, r.v) for r in changes.collect()] == [("k3", 3)]
    assert table_changes(spark, target, from_version=v1 + 1) is None

    assert read_committed(spark, target, version=v1).count() == 2
    assert read_committed(spark, target).count() == 3


def test_table_changes_commit_attribution(spark, tmp_path):
    """with_version=True tags every CDC row with its originating commit
    (_commit_version, the Delta CDF column) and still excludes
    compaction rewrites."""
    from stonkwhisperer_spark.sinks.writers import compact, merge_append, table_changes

    target = str(tmp_path / "t")
    b1 = spark.createDataFrame([("k1", 1), ("k2", 2)], "k string, v int")
    b2 = spark.createDataFrame([("k3", 3)], "k string, v int")
    b3 = spark.createDataFrame([("k4", 4)], "k string, v int")
    assert merge_append(spark, target, b1, ["k"]) == 2  # v1
    assert merge_append(spark, target, b2, ["k"]) == 1  # v2
    assert compact(spark, target) > 0                   # v3 (excluded)
    assert merge_append(spark, target, b3, ["k"]) == 1  # v4

    feed = table_changes(spark, target, from_version=1, with_version=True)
    assert feed.schema["_commit_version"].dataType.simpleString() == "bigint"
    assert sorted((r.k, r.v, r._commit_version) for r in feed.collect()) == [
        ("k3", 3, 2),
        ("k4", 4, 4),
    ]


def test_compact_swaps_files_atomically(spark, tmp_path):
    """Compaction rewrites N small committed files into fewer parts in
    ONE commit (add+remove): contents identical, committed file count
    drops, the replaced files become vacuumable, pre-compaction time
    travel still works until vacuum, and the CDC feed does NOT replay
    compacted rows as new changes."""
    import os as _os

    from stonkwhisperer_spark.sinks.writers import (
        _STALE_S,
        _committed_version,
        _table_files,
        committed_files,
        compact,
        merge_append,
        read_committed,
        table_changes,
        vacuum_orphans,
    )

    target = str(tmp_path / "t")
    for i in range(4):
        batch = spark.createDataFrame([(f"k{i}", i)], "k string, v int")
        assert merge_append(spark, target, batch, ["k"]) == 1
    pre_version = _committed_version(target)
    pre_files = committed_files(target)
    assert len(pre_files) == 4

    assert compact(spark, target) == 4
    post_files = committed_files(target)
    assert len(post_files) < 4
    assert set(post_files).isdisjoint(pre_files)
    got = {(r.k, r.v) for r in read_committed(spark, target).collect()}
    assert got == {(f"k{i}", i) for i in range(4)}

    # CDC across the compaction commit is empty (rewrite, not change).
    assert table_changes(spark, target, from_version=pre_version) is None
    # Time travel to the pre-compaction snapshot still resolves...
    assert read_committed(spark, target, version=pre_version).count() == 4
    # ...until vacuum reclaims the replaced files. Every file is aged
    # past the sweep's in-flight bound, so a leaked stage is swept too.
    stale = time.time() - 2 * _STALE_S
    for rel in _table_files(target):
        _os.utime(_os.path.join(target, rel), (stale, stale))
    removed = vacuum_orphans(target)
    assert sorted(removed) == sorted(pre_files)
    assert {(r.k, r.v) for r in read_committed(spark, target).collect()} == got

    # Merging after compaction stays idempotent and incremental.
    again = spark.createDataFrame([("k1", 1), ("k9", 9)], "k string, v int")
    assert merge_append(spark, target, again, ["k"]) == 1
    assert read_committed(spark, target).count() == 5
    assert _os.path.isdir(target)


def test_txlog_zone_map_skipping(spark, tmp_path):
    """Commits record per-file min/max zone maps; read_committed_pruned
    opens only intersecting files, keeps stats-less files (safe), and
    returns exact rows. Compaction rewrites carry fresh stats."""
    from stonkwhisperer_spark.sinks.writers import (
        compact,
        file_stats,
        merge_append,
        read_committed_pruned,
    )

    target = str(tmp_path / "t")
    for lo in (0, 100, 200):
        batch = spark.range(lo, lo + 100).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        merge_append(spark, target, batch, ["k"])

    stats = file_stats(target)
    assert stats, "no zone maps recorded"
    assert all("k" in s for s in stats.values())

    df, n_read, n_total = read_committed_pruned(spark, target, "k", 150, 160)
    assert n_read < n_total
    assert sorted(r.k for r in df.collect()) == list(range(150, 161))

    # Out-of-range predicate: zero matching zones, empty exact result.
    empty, _, _ = read_committed_pruned(spark, target, "k", 5000, 6000)
    assert empty.count() == 0

    # Compaction rewrites keep the table prunable.
    assert compact(spark, target) > 0
    df2, n_read2, n_total2 = read_committed_pruned(spark, target, "k", 150, 160)
    assert sorted(r.k for r in df2.collect()) == list(range(150, 161))


def test_txlog_schema_evolution(spark, tmp_path):
    """Commits record writer schemas; reads resolve the additive union
    from the log (old files null-fill new columns), compaction rewrites
    under the union schema, and a type CONFLICT raises instead of
    silently widening."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        compact,
        merge_append,
        read_committed,
        table_schema,
    )

    target = str(tmp_path / "t")
    merge_append(
        spark, target, spark.createDataFrame([("k1", 1)], "k string, v int"), ["k"]
    )
    merge_append(
        spark,
        target,
        spark.createDataFrame([("k2", 2, "x")], "k string, v int, w string"),
        ["k"],
    )
    assert [f.name for f in table_schema(target).fields] == ["k", "v", "w"]
    snap = read_committed(spark, target)
    got = {r.k: (r.v, r.w) for r in snap.collect()}
    assert got == {"k1": (1, None), "k2": (2, "x")}

    # Compaction must preserve the union schema and contents.
    assert compact(spark, target) > 0
    snap2 = read_committed(spark, target)
    assert {r.k: (r.v, r.w) for r in snap2.collect()} == got

    # Additive only: re-declaring v with another type fails the WRITER
    # (Delta's stance) — the log never records the conflict.
    with pytest.raises(ValueError, match="type conflict"):
        merge_append(
            spark,
            target,
            spark.createDataFrame([("k3", "oops")], "k string, v string"),
            ["k"],
        )
    assert [f.name for f in table_schema(target).fields] == ["k", "v", "w"]


def test_compact_cluster_by_tightens_zone_maps(spark, tmp_path):
    """Clustered compaction (OPTIMIZE ZORDER's 1-D analog): after
    interleaved-key commits, compact(cluster_by=['k']) rewrites into
    disjoint sorted ranges, so a range read prunes to a strict subset
    of files — where the unclustered layout had to read every file."""
    from stonkwhisperer_spark.sinks.writers import (
        compact,
        merge_append,
        read_committed_pruned,
    )

    target = str(tmp_path / "t")
    # Three commits whose key ranges all INTERLEAVE (k % 3 stripes),
    # one file each — every file's zone map spans nearly the full
    # domain, so range predicates can prune nothing.
    for stripe in range(3):
        batch = spark.range(300).filter(F.col("id") % 3 == stripe).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(1)
        merge_append(spark, target, batch, ["k"])

    _, n_read_before, n_total_before = read_committed_pruned(
        spark, target, "k", 10, 20
    )
    assert n_read_before == n_total_before  # interleaved: nothing prunable

    # Small target_bytes forces multiple output files so clustering has
    # something to separate.
    assert compact(spark, target, target_bytes=2048, cluster_by=["k"]) > 0
    df, n_read, n_total = read_committed_pruned(spark, target, "k", 10, 20)
    assert n_total > 1 and n_read < n_total
    assert sorted(r.k for r in df.collect()) == list(range(10, 21))


def test_schema_evolution_covers_all_read_surfaces(spark, tmp_path):
    """Every read surface resolves the log's union schema on an evolved
    table: pruned reads, both table_changes branches, and pruning ON
    the evolved column itself (regression: these inferred schemas from
    an arbitrary file and nondeterministically dropped columns)."""
    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        read_committed_pruned,
        table_changes,
    )

    target = str(tmp_path / "t")
    merge_append(
        spark,
        target,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        ["k"],
    )
    merge_append(
        spark,
        target,
        spark.createDataFrame([(3, "c", 30)], "k long, s string, w long"),
        ["k"],
    )

    pruned, _, _ = read_committed_pruned(spark, target, "k", 1, 3)
    assert set(pruned.columns) == {"k", "s", "w"}
    assert {r.k: r.w for r in pruned.collect()} == {1: None, 2: None, 3: 30}

    # Pruning ON the evolved column: old files have no w stats (kept,
    # null-filled, then row-filtered); result exact.
    by_w, _, _ = read_committed_pruned(spark, target, "w", 30, 30)
    assert [(r.k, r.w) for r in by_w.collect()] == [(3, 30)]

    flat = table_changes(spark, target, from_version=0)
    assert set(flat.columns) == {"k", "s", "w", "_change_type"}
    assert flat.count() == 3
    tagged = table_changes(spark, target, from_version=0, with_version=True)
    assert {r.k: (r.w, r._commit_version) for r in tagged.collect()} == {
        1: (None, 1),
        2: (None, 1),
        3: (30, 2),
    }


# ---------------------------------------------------------------------------
# merge_upsert: WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT with typed CDC.
# ---------------------------------------------------------------------------
def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    """The full MERGE contract: matched keys rewrite in place, absent
    keys insert, unmatched rows carry over untouched, and the result is
    idempotent in VALUES (re-running the same upsert changes nothing
    observable, though it still counts as updates — standard MERGE)."""
    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        merge_upsert,
        read_committed,
    )

    target = str(tmp_path / "t")
    seed = spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "k long, s string"
    )
    assert merge_append(spark, target, seed, ["k"]) == 6
    batch = spark.createDataFrame(
        [(4, "V4"), (5, "V5"), (6, "V6"), (7, "V7")], "k long, s string"
    )
    inserted, updated = merge_upsert(spark, target, batch, ["k"])
    assert (inserted, updated) == (2, 2)
    got = {r.k: r.s for r in read_committed(spark, target).collect()}
    assert got == {0: "v0", 1: "v1", 2: "v2", 3: "v3",
                   4: "V4", 5: "V5", 6: "V6", 7: "V7"}
    # values stable under re-run
    inserted, updated = merge_upsert(spark, target, batch, ["k"])
    assert (inserted, updated) == (0, 4)
    assert {r.k: r.s for r in read_committed(spark, target).collect()} == got


def test_counted_cdc_staging_matches_independent_recount(spark, tmp_path):
    """The counted CDC staging helper (r16: one vectorized change-type
    column read per staged file) reports exactly the change-type
    populations present in the files it staged — cross-checked against
    an INDEPENDENT per-row recount of the staged parquet, not against
    the helper's own counting path."""
    import os as _os

    import pyarrow.parquet as _pq

    from stonkwhisperer_spark.sinks.writers import (
        _CHANGE_COL,
        Snapshot,
        _stage_cdc_files_counted,
        merge_append,
    )

    target = str(tmp_path / "t")
    merge_append(
        spark,
        target,
        spark.createDataFrame([(1, "a")], "k long, s string"),
        ["k"],
    )
    cdc = spark.createDataFrame(
        [
            (1, "a", "update_preimage"),
            (1, "A", "update_postimage"),
            (2, "b", "insert"),
            (3, "c", "insert"),
            (4, "d", "delete"),
        ],
        f"k long, s string, {_CHANGE_COL} string",
    )
    staged, counts = _stage_cdc_files_counted(cdc, Snapshot(target))
    assert counts == (2, 1, 1)
    recount = {"insert": 0, "update_postimage": 0, "delete": 0, "update_preimage": 0}
    for rel in staged:
        col = _pq.read_table(
            _os.path.join(target, rel), columns=[_CHANGE_COL]
        ).column(0)
        for v in col.to_pylist():
            recount[v] += 1
    assert counts == (
        recount["insert"], recount["update_postimage"], recount["delete"]
    )
    assert recount["update_preimage"] == 1  # staged but uncounted, by design


def test_merge_upsert_copy_on_write_scope(spark, tmp_path):
    """File-level copy-on-write: an upsert touching keys in ONE of the
    committed files rewrites only that file — the other file survives
    verbatim in the committed view (O(matched data) at 100 TB, never a
    table rewrite)."""
    from stonkwhisperer_spark.sinks.writers import (
        _commits,
        committed_files,
        merge_append,
        merge_upsert,
        read_committed,
    )

    target = str(tmp_path / "t")
    lo = spark.createDataFrame([(i, "lo") for i in range(5)], "k long, s string")
    hi = spark.createDataFrame([(i, "hi") for i in range(100, 105)], "k long, s string")
    merge_append(spark, target, lo.coalesce(1), ["k"])
    merge_append(spark, target, hi.coalesce(1), ["k"])
    before = set(committed_files(target))

    _, updated = merge_upsert(
        spark,
        target,
        spark.createDataFrame([(101, "HI")], "k long, s string"),
        ["k"],
    )
    assert updated == 1
    upsert_commit = _commits(target)[-1]
    removed = set(upsert_commit.get("remove", []))
    # exactly one file (the hi file) was rewritten; the lo file survives
    assert len(removed) == 1
    assert (before - removed) <= set(committed_files(target))
    snap = {r.k: r.s for r in read_committed(spark, target).collect()}
    assert snap[101] == "HI" and snap[100] == "hi" and snap[0] == "lo"


def test_merge_upsert_typed_cdc_feed(spark, tmp_path):
    """table_changes replays an upsert commit as typed rows: pre-image
    with old values, post-image with new values, inserts — and NEVER the
    carried-over rows the copy-on-write rewrite duplicated into new
    files. Insert-only commits keep deriving 'insert' rows from their
    add files (no change-data storage)."""
    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        merge_upsert,
        table_changes,
    )

    target = str(tmp_path / "t")
    seed = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, s string"
    )
    merge_append(spark, target, seed, ["k"])  # v1
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(2, "B"), (9, "z")], "k long, s string"),
        ["k"],
    )  # v2

    feed = table_changes(spark, target, from_version=0, with_version=True)
    rows = sorted(
        (r.k, r.s, r._change_type, r._commit_version) for r in feed.collect()
    )
    assert rows == [
        (1, "a", "insert", 1),
        (2, "B", "update_postimage", 2),
        (2, "b", "insert", 1),
        (2, "b", "update_preimage", 2),
        (3, "c", "insert", 1),
        (9, "z", "insert", 2),
    ]


def test_merge_upsert_concurrent_update_update(spark, tmp_path):
    """Update-update conflict serializes through the CAS: writer B
    stages its rewrite, writer A's full upsert commits first (fault
    injection), B loses the version CAS, deletes its staged files,
    re-reads A's rows and rewrites THEM — last writer wins per key, no
    lost update, no duplicate keys, and the CDC chain is consistent
    (B's pre-image equals A's post-image)."""
    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        merge_upsert,
        read_committed,
        table_changes,
    )

    target = str(tmp_path / "t")
    merge_append(
        spark,
        target,
        spark.createDataFrame([(1, "orig")], "k long, s string"),
        ["k"],
    )  # v1

    a_result = {}

    def writer_a_sneaks_in():
        if not a_result:
            a_result["ins_upd"] = merge_upsert(
                spark,
                target,
                spark.createDataFrame([(1, "from_A")], "k long, s string"),
                ["k"],
            )

    b_ins, b_upd = merge_upsert(
        spark,
        target,
        spark.createDataFrame([(1, "from_B")], "k long, s string"),
        ["k"],
        _pre_commit_hook=writer_a_sneaks_in,
    )
    assert a_result["ins_upd"] == (0, 1)  # A won the race (v2)
    assert (b_ins, b_upd) == (0, 1)       # B retried and rewrote A's row (v3)

    snap = read_committed(spark, target)
    assert [(r.k, r.s) for r in snap.collect()] == [(1, "from_B")]
    feed = table_changes(spark, target, from_version=1, with_version=True)
    chain = sorted((r._commit_version, r._change_type, r.s) for r in feed.collect())
    assert chain == [
        (2, "update_postimage", "from_A"),
        (2, "update_preimage", "orig"),
        (3, "update_postimage", "from_B"),
        (3, "update_preimage", "from_A"),  # B's pre-image IS A's post-image
    ]


def test_merge_upsert_vacuum_and_time_travel(spark, tmp_path):
    """The files an upsert replaced stay readable for time travel until
    vacuum reclaims them; vacuum also sweeps crashed-upsert change-data
    orphans but keeps committed change files (they are the feed)."""
    import os as _os

    from stonkwhisperer_spark.sinks.writers import (
        _STALE_S,
        _committed_version,
        merge_append,
        merge_upsert,
        read_committed,
        table_changes,
        vacuum_orphans,
    )

    target = str(tmp_path / "t")
    merge_append(
        spark,
        target,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        ["k"],
    )
    v1 = _committed_version(target)
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(2, "B")], "k long, s string"),
        ["k"],
    )
    # time travel to the pre-upsert snapshot
    assert {r.s for r in read_committed(spark, target, version=v1).collect()} == {
        "a",
        "b",
    }
    # plant a fake crashed-upsert cdc orphan
    orphan = _os.path.join(target, "_change_data", "cdc-deadbeef.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")
    stale = time.time() - 2 * _STALE_S  # past the sweep's in-flight bound
    _os.utime(orphan, (stale, stale))
    removed = vacuum_orphans(target)
    assert _os.path.join("_change_data", "cdc-deadbeef.parquet") in removed
    # committed change files survive: the feed still replays
    feed = table_changes(spark, target, from_version=v1)
    assert feed.filter("_change_type = 'update_postimage'").count() == 1
    # the replaced data file was reclaimed → v1 time travel now gone
    assert {r.s for r in read_committed(spark, target).collect()} == {"a", "B"}


def test_merge_upsert_schema_evolution(spark, tmp_path):
    """Delta's MERGE contract: WITHOUT schema_evolution a batch with a
    NEW column fails the writer; WITH schema_evolution=True (Delta's
    withSchemaEvolution) it evolves the table additively — carried-over
    and pre-evolution rows null-fill, the log schema unions. A re-typed
    column fails the writer either way."""
    import pytest as _pytest

    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        merge_upsert,
        read_committed,
    )

    target = str(tmp_path / "t")
    merge_append(
        spark,
        target,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        ["k"],
    )
    evolving = spark.createDataFrame(
        [(2, "B", 0.5)], "k long, s string, score double"
    )
    with _pytest.raises(ValueError, match="schema_evolution=True"):
        merge_upsert(spark, target, evolving, ["k"])
    merge_upsert(spark, target, evolving, ["k"], schema_evolution=True)
    snap = read_committed(spark, target)
    assert set(snap.columns) == {"k", "s", "score"}
    assert {r.k: (r.s, r.score) for r in snap.collect()} == {
        1: ("a", None),
        2: ("B", 0.5),
    }
    with _pytest.raises(ValueError, match="type conflict"):
        merge_upsert(
            spark,
            target,
            spark.createDataFrame([(3, 7)], "k long, s long"),
            ["k"],
        )


def test_compact_zorder_skips_on_both_columns(spark, tmp_path):
    """2-D Z-order compaction: after ONE clustered rewrite on the
    Morton key of (x, y), a selective range predicate on x AND one on
    y EACH open fewer files than the table holds — the multi-column
    skipping 1-D lexicographic clustering cannot provide (its y zone
    maps span the full domain in every file)."""
    from stonkwhisperer_spark.sinks.writers import (
        compact,
        committed_files,
        merge_append,
        read_committed_pruned,
    )

    rows = spark.range(4096).select(
        F.col("id").alias("x"),
        # y decorrelated from x via a fixed permutation-ish hash
        F.pmod(F.col("id") * 2654435761, F.lit(4096)).alias("y"),
    )
    # --- z-order clustered table ---
    zt = str(tmp_path / "z")
    for lo in range(0, 4096, 1024):
        merge_append(
            spark, zt, rows.filter((F.col("x") >= lo) & (F.col("x") < lo + 1024)), ["x"]
        )
    assert compact(
        spark, zt, target_bytes=4 * 1024, cluster_by=["x", "y"], zorder=True
    ) > 0
    n_files = len(committed_files(zt))
    assert n_files >= 8, f"need several files for a skipping test, got {n_files}"

    px, x_read, x_total = read_committed_pruned(spark, zt, "x", 100, 350)
    py, y_read, y_total = read_committed_pruned(spark, zt, "y", 100, 350)
    assert x_total == y_total == n_files
    assert x_read < x_total, "x predicate pruned nothing after zorder"
    assert y_read < y_total, "y predicate pruned nothing after zorder"
    # pruning is never a correctness device: exact rows survive
    assert px.count() == 251
    assert py.count() == rows.filter(F.col("y").between(100, 350)).count()

    # --- contrast: 1-D lexicographic clustering on x leaves y unprunable ---
    lt = str(tmp_path / "lex")
    for lo in range(0, 4096, 1024):
        merge_append(
            spark, lt, rows.filter((F.col("x") >= lo) & (F.col("x") < lo + 1024)), ["x"]
        )
    assert compact(spark, lt, target_bytes=4 * 1024, cluster_by=["x", "y"]) > 0
    _, ly_read, ly_total = read_committed_pruned(spark, lt, "y", 100, 350)
    assert ly_read == ly_total, "lexicographic sort should NOT prune on y"


def test_zorder_requires_numeric_columns(spark, tmp_path):
    from stonkwhisperer_spark.sinks.writers import _zorder_key

    df = spark.createDataFrame([(1, "a")], "x long, s string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="numeric"):
        _zorder_key(df, ["x", "s"])


def test_delete_where_copy_on_write_and_cdc(spark, tmp_path):
    """DELETE FROM ... WHERE on the txlog: only files containing
    matching rows are rewritten, survivors carry over, the CDC feed
    tags removed rows 'delete', wholly-deleted files commit no empty
    part, and a no-match predicate is a no-op (no commit)."""
    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        delete_where,
        merge_append,
        read_committed,
        table_changes,
    )

    target = str(tmp_path / "t")
    lo = spark.createDataFrame([(i, "lo") for i in range(5)], "k long, s string")
    hi = spark.createDataFrame([(i, "hi") for i in range(100, 105)], "k long, s string")
    merge_append(spark, target, lo.coalesce(1), ["k"])
    merge_append(spark, target, hi.coalesce(1), ["k"])
    v2 = _committed_version(target)

    # partial delete: the lo file is rewritten, the hi file untouched
    assert delete_where(spark, target, F.col("k") < 2) == 2
    snap = {r.k for r in read_committed(spark, target).collect()}
    assert snap == {2, 3, 4, 100, 101, 102, 103, 104}
    feed = table_changes(spark, target, from_version=v2, with_version=True)
    assert sorted((r.k, r._change_type) for r in feed.collect()) == [
        (0, "delete"),
        (1, "delete"),
    ]

    # no-op delete: nothing matches, no commit appended
    v = _committed_version(target)
    assert delete_where(spark, target, F.col("k") > 10_000) == 0
    assert _committed_version(target) == v

    # whole-file delete: the hi file disappears without an empty part
    assert delete_where(spark, target, F.col("s") == "hi") == 5
    assert {r.k for r in read_committed(spark, target).collect()} == {2, 3, 4}
    feed = table_changes(spark, target, from_version=v)
    assert feed.filter("_change_type = 'delete'").count() == 5


def test_delete_where_concurrent_with_merge(spark, tmp_path):
    """A delete racing a merge serializes through the CAS: the delete
    stages its rewrite, the merge commits first (fault injection), the
    delete loses, recomputes against the merged snapshot and still
    removes exactly the matching rows — including ones the winning
    merge just inserted."""
    from stonkwhisperer_spark.sinks.writers import (
        delete_where,
        merge_append,
        read_committed,
    )

    target = str(tmp_path / "t")
    merge_append(
        spark,
        target,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        ["k"],
    )
    sneak = {}

    def merge_sneaks_in():
        if not sneak:
            sneak["n"] = merge_append(
                spark,
                target,
                spark.createDataFrame([(3, "c")], "k long, s string"),
                ["k"],
            )

    n = delete_where(
        spark, target, F.col("k") >= 2, _pre_commit_hook=merge_sneaks_in
    )
    assert sneak["n"] == 1
    assert n == 2  # rows 2 AND the freshly-merged 3
    assert [(r.k, r.s) for r in read_committed(spark, target).collect()] == [(1, "a")]


def test_restore_rolls_back_data_and_keeps_history(spark, tmp_path):
    """RESTORE TO VERSION AS OF: head equals the target snapshot, the
    pre-restore state stays time-travelable (history is append-only),
    and the restore commit carries a typed file-diff CDC."""
    from stonkwhisperer_spark.sinks.writers import (
        delete_where,
        merge_upsert,
        read_committed,
        restore,
        table_changes,
    )

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    merge_append(
        spark,
        target,
        spark.range(10).select("id", (F.col("id") * 10).alias("v")),
        ["id"],
    )
    merge_upsert(
        spark,
        target,
        spark.range(5, 15).select("id", F.lit(-1).cast("long").alias("v")),
        ["id"],
    )
    delete_where(spark, target, F.col("id") < 3)
    pre_restore = read_committed(spark, target).count()  # 12: 15 - 3 deleted

    re_added, dropped = restore(spark, target, version=1)
    assert re_added > 0 and dropped > 0
    rows = [(r.id, r.v) for r in read_committed(spark, target).orderBy("id").collect()]
    assert rows == [(i, i * 10) for i in range(10)]
    # history preserved: v3 (post-delete) is still reachable
    assert read_committed(spark, target, version=3).count() == pre_restore
    # typed CDC for the restore commit: inserts for re-added files,
    # deletes for dropped files (Delta CDF's RESTORE physical diff)
    cdc = table_changes(spark, target, from_version=3)
    kinds = {r["_change_type"] for r in cdc.select("_change_type").distinct().collect()}
    assert kinds == {"insert", "delete"}
    # restoring to the now-current view is a no-op, not a new commit
    assert restore(spark, target, version=4) == (0, 0)


def test_restore_refuses_vacuumed_files_and_bad_targets(spark, tmp_path):
    """A restore whose target view needs a physically-missing file must
    raise, never commit an unreadable view; targets beyond head raise."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        committed_files,
        delete_where,
        restore,
    )

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    merge_append(spark, target, spark.range(10).select("id"), ["id"])
    v1_files = set(committed_files(target, version=1))
    delete_where(spark, target, F.col("id") >= 0)  # drops every v1 file
    gone = v1_files - set(committed_files(target))
    for rel in gone:  # simulate an aggressive vacuum past retention
        os.remove(os.path.join(target, rel))
    with pytest.raises(FileNotFoundError, match="retention"):
        restore(spark, target, version=1)
    with pytest.raises(ValueError, match="not in log"):
        restore(spark, target, version=99)


def test_timestamp_time_travel(spark, tmp_path):
    """timestampAsOf semantics: latest version with commit ts <= the
    instant; pre-first-commit instants raise; version+timestamp raise."""
    import time as _time

    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        read_committed,
        version_as_of,
    )

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    before_any = int(_time.time() * 1000) - 1
    merge_append(spark, target, spark.range(5).select("id"), ["id"])
    after_v1 = int(_time.time() * 1000)
    _time.sleep(0.05)  # commit timestamps are millis — keep them distinct
    merge_append(spark, target, spark.range(5, 9).select("id"), ["id"])

    assert version_as_of(target, after_v1) == 1
    assert read_committed(spark, target, timestamp_ms=after_v1).count() == 5
    assert read_committed(
        spark, target, timestamp_ms=int(_time.time() * 1000)
    ).count() == 9
    with pytest.raises(ValueError, match="predates"):
        version_as_of(target, before_any)
    with pytest.raises(ValueError, match="not both"):
        read_committed(spark, target, version=1, timestamp_ms=after_v1)


def test_append_txn_idempotent_replay(spark, tmp_path):
    """Delta txnAppId/txnVersion contract: the same (app, version)
    lands at most once; an older version replay is a no-op; a new
    version lands; an unrelated app is independent."""
    from stonkwhisperer_spark.sinks.writers import (
        append_txn,
        last_txn_version,
        read_committed,
    )

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    b = spark.range(5).select("id")
    assert append_txn(spark, target, b, "appA", 0) == 5
    assert append_txn(spark, target, b, "appA", 0) == 0  # replay
    assert read_committed(spark, target).count() == 5
    assert append_txn(spark, target, b, "appA", 1) == 5
    assert append_txn(spark, target, b, "appA", 0) == 0  # stale replay
    assert append_txn(spark, target, b, "appB", 0) == 5  # other app
    assert last_txn_version(target, "appA") == 1
    assert last_txn_version(target, "appB") == 0
    assert last_txn_version(target, "appC") is None
    assert read_committed(spark, target).count() == 15


def test_append_txn_concurrent_same_txn_lands_once(spark, tmp_path):
    """Two racing writers declaring the SAME transaction: the CAS loser
    re-reads the log, sees the winner's txn marker, and skips — the
    batch lands exactly once (the guard that makes foreachBatch replays
    safe even mid-race)."""
    from stonkwhisperer_spark.sinks.writers import append_txn, read_committed

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    b = spark.range(7).select("id")
    sneak = {}

    def rival_commits_same_txn():
        if not sneak:
            sneak["done"] = True
            sneak["n"] = append_txn(spark, target, b, "appA", 0)

    n = append_txn(
        spark, target, b, "appA", 0, _pre_commit_hook=rival_commits_same_txn
    )
    assert sneak["n"] == 7  # the sneaked-in rival won
    assert n == 0  # loser detected the txn marker on retry and skipped
    assert read_committed(spark, target).count() == 7


def test_check_constraints_enforced_on_all_write_paths(spark, tmp_path):
    """Delta CHECK-constraint contract: ADD CONSTRAINT validates
    existing data, every write path rejects violating batches before
    any commit, DROP lifts the gate, and the constraint set replays
    from the log."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        add_constraint,
        append_txn,
        drop_constraint,
        merge_upsert,
        read_committed,
        table_constraints,
    )

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    merge_append(
        spark,
        target,
        spark.range(1, 6).select("id", (F.col("id") * 2).alias("v")),
        ["id"],
    )
    add_constraint(spark, target, "v_positive", "v > 0")
    assert table_constraints(target) == {"v_positive": "v > 0"}
    with pytest.raises(ValueError, match="already exists"):
        add_constraint(spark, target, "v_positive", "v > 0")
    # existing data violates → constraint refused
    with pytest.raises(ValueError, match="existing row violates"):
        add_constraint(spark, target, "v_small", "v < 3")

    bad = spark.createDataFrame([(10, -1)], "id long, v long")
    v_before = _committed_version(target)
    for write in (
        lambda: merge_append(spark, target, bad, ["id"]),
        lambda: merge_upsert(spark, target, bad, ["id"]),
        lambda: append_txn(spark, target, bad, "appX", 0),
    ):
        with pytest.raises(ValueError, match="v_positive"):
            write()
    assert _committed_version(target) == v_before  # nothing committed
    assert read_committed(spark, target).count() == 5

    # a batch that violates only on rows the anti-join SKIPS still
    # passes merge_append (written-rows scope, Delta's semantics):
    # id=1 exists, so its violating v never lands
    mixed = spark.createDataFrame([(1, -9), (20, 7)], "id long, v long")
    assert merge_append(spark, target, mixed, ["id"]) == 1

    drop_constraint(target, "v_positive")
    assert table_constraints(target) == {}
    assert merge_append(spark, target, bad, ["id"]) == 1  # gate lifted
    with pytest.raises(ValueError, match="no constraint"):
        drop_constraint(target, "v_positive")


def test_restore_validates_later_constraints(spark, tmp_path):
    """RESTORE must not resurrect rows that violate a constraint added
    after the target version."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        add_constraint,
        delete_where,
        restore,
    )

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    merge_append(
        spark,
        target,
        spark.createDataFrame([(1, 5), (2, -7)], "id long, v long"),
        ["id"],
    )
    delete_where(spark, target, F.col("v") < 0)
    add_constraint(spark, target, "v_positive", "v > 0")  # valid NOW
    with pytest.raises(ValueError, match="v_positive"):
        restore(spark, target, version=1)  # would resurrect v=-7


def test_vacuum_retention_window(spark, tmp_path):
    """Retention-window VACUUM: files referenced only by snapshots
    below the cutoff are reclaimed; the horizon is committed, ratchets,
    and every read surface refuses requests below it with a clear
    error instead of a mid-scan FileNotFound."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        committed_files,
        merge_upsert,
        read_committed,
        read_committed_point,
        read_committed_pruned,
        restore,
        table_changes,
        vacuum,
    )

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    merge_append(
        spark, target, spark.range(4).select("id", F.lit("a").alias("s")), ["id"]
    )
    v1_files = set(committed_files(target, version=1))
    merge_upsert(
        spark, target, spark.range(4).select("id", F.lit("b").alias("s")), ["id"]
    )
    merge_upsert(
        spark, target, spark.range(4).select("id", F.lit("c").alias("s")), ["id"]
    )
    assert _committed_version(target) == 3

    removed = vacuum(target, retain_versions=1)  # cutoff = 2
    assert v1_files <= set(removed)  # v1's rewritten-away files reclaimed
    for rel in v1_files:
        assert not os.path.exists(os.path.join(target, rel))
    assert _committed_version(target) == 4  # horizon commit landed

    # head and in-window snapshots still read fine
    assert {r.s for r in read_committed(spark, target).collect()} == {"c"}
    assert {r.s for r in read_committed(spark, target, version=2).collect()} == {"b"}
    # below-horizon requests refused loudly on every surface
    with pytest.raises(ValueError, match="retention horizon"):
        read_committed(spark, target, version=1)
    with pytest.raises(ValueError, match="retention horizon"):
        read_committed_pruned(spark, target, "id", 0, 2, version=1)
    with pytest.raises(ValueError, match="retention horizon"):
        read_committed_point(spark, target, "id", 0, version=1)
    with pytest.raises(ValueError, match="retention horizon"):
        table_changes(spark, target, from_version=1)
    with pytest.raises(ValueError, match="retention horizon"):
        restore(spark, target, version=1)
    assert table_changes(spark, target, from_version=2).count() > 0

    # horizon ratchets: a later vacuum with a LOOSER retention cannot
    # regress it (retain everything → cutoff stays 2)
    vacuum(target, retain_versions=100)
    with pytest.raises(ValueError, match="retention horizon"):
        read_committed(spark, target, version=1)


def test_vacuum_time_based_retention(spark, tmp_path):
    """Time-based VACUUM (``retain_ms``, Delta's ``RETAIN n HOURS``):
    the cutoff resolves through version_as_of over the commit
    timestamps — snapshots younger than the window survive, older
    rewritten-away files reclaim. And a retention window LONGER than
    the table's age retains everything instead of crashing the
    maintenance job (the version_as_of predates-first-commit error is
    a caller mistake for reads, but a routine state for a conservative
    vacuum policy on a young table)."""
    import json
    import time as _time

    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        _txlog_path,
        committed_files,
        merge_upsert,
        read_committed,
        vacuum,
    )

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    merge_append(
        spark, target, spark.range(4).select("id", F.lit("a").alias("s")), ["id"]
    )
    v1_files = set(committed_files(target, version=1))
    merge_upsert(
        spark, target, spark.range(4).select("id", F.lit("b").alias("s")), ["id"]
    )
    merge_upsert(
        spark, target, spark.range(4).select("id", F.lit("c").alias("s")), ["id"]
    )

    # A window longer than the table's age reclaims nothing (no crash).
    assert vacuum(target, retain_ms=3_600_000) == []
    assert {r.s for r in read_committed(spark, target, version=1).collect()} == {
        "a"
    }

    # Back-date v1/v2 deterministically (no sleeps): v1 is 10s old,
    # v2 is 5s old, v3 just landed. The window retains the state AS OF
    # its start (Delta semantics): a 7s window starts between v1 and
    # v2, so v1 — the snapshot serving that instant — must survive;
    # a 3s window starts between v2 and v3, making v2 the cutoff and
    # v1's rewritten-away files reclaimable.
    log = _txlog_path(target)
    now_ms = int(_time.time() * 1000)
    for version, age_ms in ((1, 10_000), (2, 5_000)):
        path = os.path.join(log, f"{version:08d}.json")
        with open(path) as fh:
            c = json.load(fh)
        c["ts"] = now_ms - age_ms
        with open(path, "w") as fh:
            json.dump(c, fh)

    assert vacuum(target, retain_ms=7_000) == []  # cutoff v1: all live
    assert {r.s for r in read_committed(spark, target, version=1).collect()} == {
        "a"
    }
    removed = vacuum(target, retain_ms=3_000)  # cutoff -> v2
    assert v1_files <= set(removed)
    assert {r.s for r in read_committed(spark, target, version=2).collect()} == {
        "b"
    }
    with pytest.raises(ValueError, match="retention horizon"):
        read_committed(spark, target, version=1)


def test_vacuum_spares_concurrent_staged_files(spark, tmp_path):
    """Vacuum candidates come from commit history only — an in-flight
    writer's staged-but-uncommitted parquet is never touched (the
    safety property that makes vacuum runnable beside live writers)."""
    from stonkwhisperer_spark.sinks.writers import vacuum

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    merge_append(spark, target, spark.range(3).select("id"), ["id"])
    staged = os.path.join(target, "part-deadbeefstaged.parquet")
    spark.range(1).write.mode("overwrite").parquet(str(tmp_path / "one"))
    src = next(
        f
        for f in os.listdir(str(tmp_path / "one"))
        if f.endswith(".parquet")
    )
    os.rename(os.path.join(str(tmp_path / "one"), src), staged)
    vacuum(target, retain_versions=0, unsafe_zero_retention=True)
    assert os.path.exists(staged)  # untouched: not in any manifest


def test_vacuum_requires_explicit_retention(spark, tmp_path):
    """VERDICT-r13 task 4: retention is explicit — a bare vacuum() (no
    window) and a double window are refused; zero retention (which
    ratchets the horizon to head, destroying all time-travel history)
    is refused without the unsafe opt-in; and every refusal happens
    BEFORE any reclamation or horizon commit, so a forgotten argument
    can never silently destroy history (Delta's retentionDurationCheck
    equivalent)."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        read_committed,
        vacuum,
    )

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    merge_append(spark, target, spark.range(3).select("id"), ["id"])
    merge_append(spark, target, spark.range(3, 6).select("id"), ["id"])
    head = _committed_version(target)

    with pytest.raises(ValueError, match="explicit retention window"):
        vacuum(target)
    with pytest.raises(ValueError, match="explicit retention window"):
        vacuum(target, retain_versions=1, retain_ms=1_000)
    with pytest.raises(ValueError, match="unsafe_zero_retention"):
        vacuum(target, retain_versions=0)
    with pytest.raises(ValueError, match="unsafe_zero_retention"):
        vacuum(target, retain_ms=0)
    # Negative windows are worse than zero (cutoff = head + 1 would
    # ratchet the horizon ABOVE head): refused even with the opt-in.
    with pytest.raises(ValueError, match="must be >= 0"):
        vacuum(target, retain_versions=-1, unsafe_zero_retention=True)
    with pytest.raises(ValueError, match="must be >= 0"):
        vacuum(target, retain_ms=-1, unsafe_zero_retention=True)
    # No refusal committed anything or reclaimed a file: history intact.
    assert _committed_version(target) == head
    assert read_committed(spark, target, version=1).count() == 3

    # The opted-in zero-retention path still works end to end.
    vacuum(target, retain_versions=0, unsafe_zero_retention=True)
    with pytest.raises(ValueError, match="retention horizon"):
        read_committed(spark, target, version=1)


def test_vacuum_noop_paths_are_symmetric(spark, tmp_path):
    """ADVICE r14: a retain_ms window predating the first commit and an
    equivalently oversized retain_versions window must behave
    IDENTICALLY — both commit-free when nothing is reclaimable and the
    horizon would not move — and a no-op-window maintenance pass must
    still re-reclaim crash-leftover files below an EXISTING horizon
    (committing the pass only when something actually happened)."""
    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        committed_files,
        merge_upsert,
        vacuum,
    )

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    merge_append(
        spark, target, spark.range(4).select("id", F.lit("a").alias("s")), ["id"]
    )
    head = _committed_version(target)
    # Young table, conservative window: both spellings no-op commit-free.
    assert vacuum(target, retain_ms=3_600_000) == []
    assert vacuum(target, retain_versions=100) == []
    assert _committed_version(target) == head

    # Build churn + a horizon, then plant a crash leftover below it: a
    # file commit history removed at/below the cutoff that a crashed
    # earlier vacuum failed to unlink.
    v1_files = set(committed_files(target, version=1))
    merge_upsert(
        spark, target, spark.range(4).select("id", F.lit("b").alias("s")), ["id"]
    )
    removed = vacuum(target, retain_versions=0, unsafe_zero_retention=True)
    assert v1_files <= set(removed)
    leftover = sorted(v1_files)[0]
    with open(os.path.join(target, leftover), "wb") as fh:
        fh.write(b"crash leftover")
    head2 = _committed_version(target)

    # The conservative no-op-window pass under the existing horizon
    # re-reclaims the leftover (shared path for both spellings) and
    # records the pass because something happened...
    got = vacuum(target, retain_ms=3_600_000)
    assert leftover in got
    assert not os.path.exists(os.path.join(target, leftover))
    assert _committed_version(target) == head2 + 1
    # ...and the next pass is again a pure no-op, commit-free.
    assert vacuum(target, retain_ms=3_600_000) == []
    assert vacuum(target, retain_versions=100) == []
    assert _committed_version(target) == head2 + 1


def test_table_history_describes_every_commit(spark, tmp_path):
    """DESCRIBE HISTORY: one row per commit in version order with the
    recorded operation tag; pre-op-tag commits classify structurally."""
    from stonkwhisperer_spark.sinks.writers import (
        _try_commit,
        add_constraint,
        delete_where,
        merge_upsert,
        restore,
        table_history,
        vacuum,
    )

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    merge_append(
        spark,
        target,
        spark.range(10).select("id", (F.col("id") * 2).alias("v")).coalesce(1),
        ["id"],
    )
    add_constraint(spark, target, "v_ok", "v >= 0")
    merge_upsert(
        spark,
        target,
        spark.range(5).select("id", F.lit(99).cast("long").alias("v")),
        ["id"],
    )
    delete_where(spark, target, F.col("id") >= 8)
    restore(spark, target, version=1)
    vacuum(target, retain_versions=0, unsafe_zero_retention=True)
    # a legacy commit with no op tag → structural classification
    _try_commit(target, 7, {"compaction": True})

    h = table_history(spark, target).orderBy("version").collect()
    assert [(r.version, r.operation) for r in h] == [
        (1, "MERGE APPEND"),
        (2, "ADD CONSTRAINT"),
        (3, "MERGE"),
        (4, "DELETE"),
        (5, "RESTORE"),
        (6, "VACUUM"),
        (7, "OPTIMIZE"),
    ]
    byv = {r.version: r for r in h}
    assert byv[1].num_rows == 10
    assert byv[3].has_cdc and byv[4].has_cdc and byv[5].has_cdc
    assert byv[2].num_added_files == 0 and byv[6].num_added_files == 0
    assert all(r.timestamp_ms > 0 for r in h)


def test_partition_layout_evolution(spark, tmp_path):
    """Iceberg-style partition-spec evolution, the txlog way: commits
    may stage files under DIFFERENT partition layouts (unpartitioned
    seed, then partitioned batches); the committed view reads both —
    the manifest lists files, not directories, and the log's union
    schema null-fills the partition column for pre-evolution files."""
    from stonkwhisperer_spark.sinks.writers import read_committed

    target = str(tmp_path / "tbl")
    os.makedirs(target)
    merge_append(
        spark,
        target,
        spark.range(3).select("id", F.lit("x").alias("grp")),
        ["id"],
    )  # v1: unpartitioned layout
    merge_append(
        spark,
        target,
        spark.range(3, 6).select("id", F.lit("y").alias("grp")),
        ["id"],
        partition_cols=["grp"],
    )  # v2: grp=<val>/ directory layout
    snap = read_committed(spark, target)
    got = {(r.id, r.grp) for r in snap.collect()}
    assert got == {(i, "x") for i in range(3)} | {(i, "y") for i in range(3, 6)}


def test_merge_sync_three_clauses(spark, tmp_path):
    """The full MERGE: matched keys update, new keys insert, target
    keys absent from the source DELETE — one atomic commit with all
    four typed CDC row kinds."""
    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        merge_append,
        merge_sync,
        read_committed,
        table_changes,
    )

    target = str(tmp_path / "tbl")
    seed = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    for lo in (0, 10, 20):  # three files
        merge_append(
            spark, target, seed.filter(F.col("k").between(lo, lo + 9)), ["k"]
        )
    v_seed = _committed_version(target)
    batch = spark.range(20, 40).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("v")
    )
    inserted, updated, deleted = merge_sync(spark, target, batch, ["k"])
    assert (inserted, updated, deleted) == (10, 10, 20)
    got = read_committed(spark, target)
    assert got.count() == 20
    assert got.agg(F.min("k"), F.max("k")).collect()[0] == (20, 39)
    assert got.filter(F.col("v") != F.col("k") * 100).count() == 0
    feed = table_changes(spark, target, from_version=v_seed)
    kinds = {
        r["_change_type"]: r["cnt"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert kinds == {
        "insert": 10,
        "update_preimage": 10,
        "update_postimage": 10,
        "delete": 20,
    }


def test_merge_sync_scoped_delete_condition(spark, tmp_path):
    """Delta's WHEN NOT MATCHED BY SOURCE AND <cond>: a partial
    snapshot deletes only within its slice."""
    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        merge_sync,
        read_committed,
    )

    target = str(tmp_path / "tbl")
    seed = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("even")
    )
    merge_append(spark, target, seed, ["k"])
    batch = seed.filter(F.col("k").isin(0, 2))  # partial: evens 0 and 2
    inserted, updated, deleted = merge_sync(
        spark, target, batch, ["k"], delete_condition=F.col("even")
    )
    # Deletes scoped to the even slice: evens 4..18 go, odds survive.
    assert (inserted, updated, deleted) == (0, 2, 8)
    got = read_committed(spark, target)
    assert got.count() == 12
    assert got.filter(~F.col("even")).count() == 10


def test_merge_sync_delete_everything(spark, tmp_path):
    """A sync against an empty source deletes the whole table without
    committing empty data files."""
    from stonkwhisperer_spark.sinks.writers import (
        committed_files,
        merge_append,
        merge_sync,
        read_committed,
    )

    target = str(tmp_path / "tbl")
    merge_append(spark, target, spark.range(10).select(F.col("id").alias("k")), ["k"])
    empty = spark.range(0).select(F.col("id").alias("k"))
    inserted, updated, deleted = merge_sync(spark, target, empty, ["k"])
    assert (inserted, updated, deleted) == (0, 0, 10)
    assert committed_files(target) == []
    got = read_committed(spark, target)
    assert got is None


def test_cdc_refreshes_derived_index_as_incremental_mv(spark, tmp_path):
    """A derived index is an incremental materialized view of its
    source table, refreshable from ONE poll of the source's typed
    change feed (the r14 seam generalizing txlog_incremental_agg's
    discipline from aggregates to indexes): reduce the poll to the
    newest change per doc, re-derive postings for the docs still
    present, and apply them in ONE atomic merge_sync commit whose
    delete clause is scoped to the poll's changed keys — revisions
    drop their vanished tokens, arrivals insert, erasures cascade,
    and unchanged docs are never re-tokenized or rewritten. The
    maintained index must equal a from-scratch rebuild of the source
    head. Refresh cost is O(poll delta): the changed-key list is
    poll-bounded (the scoping literal Delta's
    whenNotMatchedBySourceDelete(condition) takes per micro-batch),
    and only files owning changed docs' rows rewrite."""
    from pyspark.sql.window import Window as W

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        delete_where,
        merge_sync,
        merge_upsert,
        read_committed,
        table_changes,
    )

    def postings(docs):
        toks = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        ).filter(F.col("tok") != "")
        return toks.groupBy("doc_id", "tok").agg(
            F.count("*").cast("bigint").alias("tf")
        )

    src = str(tmp_path / "docs")
    idx = str(tmp_path / "tf")
    seed = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta doc "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    merge_append(spark, src, seed, ["doc_id"])
    v_indexed = _committed_version(src)
    merge_append(
        spark, idx, postings(read_committed(spark, src)), ["doc_id", "tok"]
    )

    # Source evolves past the indexed version: revisions (docs 0-9
    # lose 'beta', gain 'gamma'), arrivals (40-49), erasures (%10==7
    # — doc 7 is revised THEN erased, so newest-wins must pick the
    # delete; doc 47 arrives then erases, a net no-op for the index).
    merge_upsert(
        spark,
        src,
        spark.range(10).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("alpha gamma doc "), F.col("id").cast("string")
            ).alias("text"),
        ),
        ["doc_id"],
    )
    merge_upsert(
        spark,
        src,
        spark.range(40, 50).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("delta doc "), F.col("id").cast("string")).alias(
                "text"
            ),
        ),
        ["doc_id"],
    )
    delete_where(spark, src, F.col("doc_id") % 10 == 7)

    feed = table_changes(spark, src, v_indexed, with_version=True)
    latest = (
        feed.filter(F.col("_change_type") != "update_preimage")
        .withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.desc("_commit_version"))
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    changed = [r.doc_id for r in latest.select("doc_id").collect()]
    assert len(changed) == 23  # 0-9 revised, 40-49 arrived, 17/27/37 erased
    fresh = postings(
        latest.filter(F.col("_change_type") != "delete").select(
            "doc_id", "text"
        )
    )
    ins, upd, dele = merge_sync(
        spark,
        idx,
        fresh,
        ["doc_id", "tok"],
        delete_condition=F.col("doc_id").isin(changed),
    )
    # Arrivals insert; revised docs' surviving tokens update; vanished
    # tokens ('beta' of 0-9 minus erased 7) and erased docs' rows delete.
    assert ins > 0 and upd > 0 and dele > 0
    maintained = sorted(
        map(tuple, read_committed(spark, idx).collect())
    )
    rebuilt = sorted(
        map(tuple, postings(read_committed(spark, src)).collect())
    )
    assert maintained == rebuilt


def test_matched_file_discovery_cap_trips(spark, tmp_path, monkeypatch):
    """The matched-file discovery tripwire (VERDICT r12 observation):
    with the cap shrunk below the table's file count, a DELETE whose
    predicate touches every file must fail loud instead of collecting
    an oversized driver list — and with the real cap the same call
    succeeds."""
    import pytest

    from stonkwhisperer_spark.sinks import writers
    from stonkwhisperer_spark.sinks.writers import delete_where, merge_append

    target = str(tmp_path / "t")
    df = spark.range(12).withColumnRenamed("id", "k")
    for i in range(3):  # 3 commits -> >=3 data files
        merge_append(
            spark, target, df.filter((F.col("k") % 3) == i), ["k"]
        )
    monkeypatch.setattr(writers, "_MAX_FILE_LIST", 2)
    with pytest.raises(AssertionError, match="matched-file discovery"):
        delete_where(spark, target, F.col("k") >= 0)
    monkeypatch.undo()
    assert delete_where(spark, target, F.col("k") >= 0) == 12


def test_merge_upsert_txn_replay_noop(spark, tmp_path):
    """foreachBatch streaming upsert: a replayed micro-batch (same
    app/version) must not re-apply — even though its keys all exist."""
    from stonkwhisperer_spark.sinks.writers import (
        merge_upsert_txn,
        read_committed,
    )

    target = str(tmp_path / "tbl")
    b0 = spark.range(5).select(F.col("id").alias("k"), F.lit("a").alias("v"))
    assert merge_upsert_txn(spark, target, b0, ["k"], "job", 0) == (5, 0)
    b1 = spark.range(5).select(F.col("id").alias("k"), F.lit("b").alias("v"))
    assert merge_upsert_txn(spark, target, b1, ["k"], "job", 1) == (0, 5)
    # Replay of batch 0 after batch 1: WITHOUT the txn ledger this
    # would resurrect the stale 'a' values; with it, a no-op.
    assert merge_upsert_txn(spark, target, b0, ["k"], "job", 0) == (0, 0)
    vals = {r["v"] for r in read_committed(spark, target).collect()}
    assert vals == {"b"}


def test_merge_upsert_txn_concurrent_same_txn_lands_once(spark, tmp_path):
    """Two racing instances of the same (app, version) merge: the CAS
    loser re-reads the log, sees the winner's marker, and skips."""
    from stonkwhisperer_spark.sinks.writers import (
        merge_upsert_txn,
        read_committed,
    )

    target = str(tmp_path / "tbl")
    seed = spark.range(4).select(F.col("id").alias("k"), F.lit(0).alias("n"))
    merge_upsert_txn(spark, target, seed, ["k"], "job", 0)
    bump = spark.range(4).select(F.col("id").alias("k"), F.lit(1).alias("n"))
    sneak = {}

    def rival():
        if not sneak:
            sneak["r"] = merge_upsert_txn(spark, target, bump, ["k"], "job", 1)

    res = merge_upsert_txn(
        spark, target, bump, ["k"], "job", 1, _pre_commit_hook=rival
    )
    assert sneak["r"] == (0, 4)  # the sneaked-in rival won
    assert res == (0, 0)  # loser skipped on retry
    # Applied exactly once: every n is 1 (a double-apply would still
    # show n=1, but a THIRD commit would exist — assert the version).
    got = read_committed(spark, target)
    assert got.filter(F.col("n") != 1).count() == 0
    from stonkwhisperer_spark.sinks.writers import _committed_version

    assert _committed_version(target) == 2


def test_overwrite_where_atomic_region_swap(spark, tmp_path):
    """replaceWhere: one commit deletes the predicate region and
    inserts the batch; re-running is idempotent; a batch row outside
    the region is rejected before any write."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        merge_append,
        overwrite_where,
        read_committed,
        table_changes,
    )

    target = str(tmp_path / "tbl")
    seed = spark.range(30).select(F.col("id").alias("k"), F.lit("old").alias("v"))
    for lo in (0, 10, 20):
        merge_append(
            spark, target, seed.filter(F.col("k").between(lo, lo + 9)), ["k"]
        )
    v_seed = _committed_version(target)
    # Recompute the [10,20) "day" as 5 rows only.
    batch = spark.range(10, 15).select(F.col("id").alias("k"), F.lit("new").alias("v"))
    cond = F.col("k").between(10, 19)
    assert overwrite_where(spark, target, batch, cond) == (5, 10)
    got = read_committed(spark, target)
    assert got.count() == 25
    assert got.filter(F.col("v") == "new").count() == 5
    assert got.filter(cond).count() == 5
    feed = table_changes(spark, target, from_version=v_seed)
    kinds = {
        r["_change_type"]: r["cnt"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert kinds == {"insert": 5, "delete": 10}
    # Idempotent re-run: swaps the region with the same contents.
    assert overwrite_where(spark, target, batch, cond) == (5, 5)
    assert read_committed(spark, target).count() == 25
    # Guard: a batch row outside the region must be rejected whole.
    stray = spark.range(10, 25).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    before = _committed_version(target)
    with pytest.raises(ValueError, match="replaceWhere violation"):
        overwrite_where(spark, target, stray, cond)
    assert _committed_version(target) == before


def test_bloom_point_lookup_skips_files(spark, tmp_path):
    """Bloom file index: on a high-cardinality UNSORTED key every
    file's zone map spans everything (no skipping), but the bloom
    index opens only the file(s) that can contain the value."""
    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        read_committed_point,
        read_committed_pruned,
        set_bloom_columns,
    )

    target = str(tmp_path / "tbl")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("u"), F.col("id")).alias("tag"),
    )
    merge_append(spark, target, df.filter(F.col("k") % 4 == 0).coalesce(1), ["k"])
    set_bloom_columns(target, ["k", "tag"])
    for r in (1, 2, 3):  # three more files, all spanning [0, 200)
        merge_append(spark, target, df.filter(F.col("k") % 4 == r).coalesce(1), ["k"])
    # Zone maps are useless here: every file covers the full range.
    _, zm_read, zm_total = read_committed_pruned(spark, target, "k", 17, 17)
    assert zm_read == zm_total == 4
    # Bloom pruning: the first merge indexed its own file on its key
    # ``k``; of the four files only k%4==1's holds 17 (a second one may
    # be a false positive).
    hit, read, total = read_committed_point(spark, target, "k", 17)
    assert total == 4 and read <= 2
    assert [r["k"] for r in hit.collect()] == [17]
    # String column lookup.
    hit2, read2, _ = read_committed_point(spark, target, "tag", "u18")
    assert read2 <= 2
    assert [r["k"] for r in hit2.collect()] == [18]
    # Absent value: zero rows survive.
    miss, read3, _ = read_committed_point(spark, target, "k", 999)
    assert read3 <= 2 and miss.count() == 0


def test_bloom_survives_rewrites(spark, tmp_path):
    """Rewrites drop old files' blooms with the files and index the
    replacement files automatically (the commit builds them)."""
    from stonkwhisperer_spark.sinks.writers import (
        Snapshot,
        compact,
        committed_files,
        merge_append,
        read_committed_point,
        set_bloom_columns,
    )

    target = str(tmp_path / "tbl")
    df = spark.range(100).select(F.col("id").alias("k"))
    merge_append(spark, target, df.filter(F.col("k") < 50).coalesce(1), ["k"])
    set_bloom_columns(target, ["k"])
    merge_append(spark, target, df.filter(F.col("k") >= 50).coalesce(1), ["k"])
    compact(spark, target, min_files=2)
    state = Snapshot(target).blooms
    assert set(state) == set(committed_files(target))  # rewrites indexed
    hit, read, total = read_committed_point(spark, target, "k", 7)
    assert [r["k"] for r in hit.collect()] == [7]


def test_txlog_bloom_bits_match_pure_python_replay(tmp_path):
    """The txlog's file filters (``writers._bloom_build``) are exactly a
    per-value replay of ``_bloom_hashes``, bit for bit, over int,
    integral and fractional float, bool, string and null values: filters
    committed before the vectorised build keep probing the same. An
    all-null column gets no filter."""
    import base64

    import pyarrow as pa
    import pyarrow.parquet as pq

    from stonkwhisperer_spark.sinks import writers as wr

    n = 300
    cols = {
        "i": [None if j % 7 == 0 else j * 1_000_003 - 2**40 for j in range(n)],
        "f": [None if j % 11 == 0 else (j / 2 if j % 3 else float(j)) for j in range(n)],
        "b": [None if j % 5 == 0 else bool(j % 2) for j in range(n)],
        "s": [None if j % 13 == 0 else f"https://ex.com/{j % 97}" for j in range(n)],
        "z": pa.array([None] * n, pa.string()),
    }
    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table(cols), path)
    with pq.ParquetFile(path) as pf:
        got = wr._bloom_build(pf, ["i", "f", "b", "s", "z", "absent"])
    m = 1 << max(6, (10 * n - 1).bit_length())
    assert sorted(got) == ["b", "f", "i", "s"]
    for col in got:
        bits = bytearray(m // 8)
        for v in cols[col]:
            if v is None:
                continue
            for pos in wr._bloom_hashes(v, m):
                bits[pos >> 3] |= 1 << (pos & 7)
        want = {"m": m, "k": wr._BLOOM_K, "b64": base64.b64encode(bytes(bits)).decode("ascii")}
        assert got[col] == want, col
        assert all(wr._bloom_admits(got[col], v) for v in cols[col] if v is not None)
    # An integral float is indexed as its integer: the int probe finds it.
    assert wr._bloom_admits(got["f"], 6)


def _jobs_run(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, counted through a
    job group. A marker job under a second group follows it: the status
    listener handles events in order, so once the marker shows, every
    job of the first group shows too."""
    import uuid

    sc, tag = spark.sparkContext, uuid.uuid4().hex
    sc.setJobGroup(f"call-{tag}", "counted call")
    try:
        out = fn()
        sc.setJobGroup(f"mark-{tag}", "marker")
        spark.range(1).collect()
    finally:
        sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(f"mark-{tag}") and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(f"mark-{tag}"), "marker job never reported"
    return out, len(tracker.getJobIdsForGroup(f"call-{tag}"))


@pytest.mark.parametrize("layout", [None, ["grp"]], ids=["flat", "partitioned"])
def test_pruned_read_that_keeps_no_file_runs_no_job(spark, tmp_path, layout):
    """A point read whose value no bloom filter admits, and a range read
    that no zone map admits, answer from the log: no file read, no Spark
    job (frame built and collected), and the same columns as a hit —
    partition columns too. The table's first file is masked by a
    deletion vector, whose kill list a read must not open either."""
    from stonkwhisperer_spark.sinks.writers import (
        delete_where_dv,
        read_committed_point,
        read_committed_pruned,
    )

    target = str(tmp_path / "tbl")
    rows = spark.range(40).select(
        F.col("id").alias("k"),
        F.concat(F.lit("https://ex.com/"), F.col("id")).alias("url"),
        (F.col("id") % 2).alias("grp"),
    )
    merge_append(spark, target, rows.filter("k < 20"), ["url"], partition_cols=layout)
    merge_append(spark, target, rows.filter("k >= 20"), ["url"])
    delete_where_dv(spark, target, F.col("k") == 0)

    hit, read, total = read_committed_point(spark, target, "url", "https://ex.com/7")
    assert [r["k"] for r in hit.collect()] == [7] and 0 < read < total
    for call in (
        lambda: read_committed_point(spark, target, "url", "https://ex.com/absent"),
        lambda: read_committed_pruned(spark, target, "k", 100, 200),
    ):
        (df, files_read, files_total), built = _jobs_run(spark, call)
        got, collected = _jobs_run(spark, df.collect)
        assert (built, collected, files_read, files_total) == (0, 0, 0, total)
        assert got == [] and df.columns == hit.columns


def test_single_merge_key_indexes_itself(spark, tmp_path):
    """A single-column merge key on an undeclared table declares itself
    the bloom column in the writing commit, which indexes its own files
    — for merge_append and the MERGE engine alike. Rewrites keep
    indexing on the declaration; a composite key declares nothing."""
    from stonkwhisperer_spark.sinks.writers import (
        Snapshot,
        _commits,
        compact,
        merge_upsert,
        update_where,
    )

    def indexed(path):
        snap = Snapshot(path)
        return snap.bloom_cols, sorted(snap.blooms) == sorted(snap.files)

    appended, merged = str(tmp_path / "appended"), str(tmp_path / "merged")
    merge_append(spark, appended, _articles(spark, n=10), ["url"])
    merge_append(spark, appended, _articles(spark, n=10, offset=10), ["url"])
    merge_upsert(spark, merged, _articles(spark, n=10), ["url"])
    merge_upsert(spark, merged, _articles(spark, n=10, offset=5), ["url"])
    for path in (appended, merged):
        assert indexed(path) == (["url"], True)
        assert [c.get("bloom_cols") for c in _commits(path)] == [["url"], None]
    assert compact(spark, appended, min_files=2) > 0
    update_where(spark, appended, {"title": F.lit("t")}, F.col("url") == "https://ex.com/3")
    assert indexed(appended) == (["url"], True)
    assert [c["op"] for c in _commits(appended)][-2:] == ["OPTIMIZE", "UPDATE"]

    bars = str(tmp_path / "bars")
    companies = spark.createDataFrame([("c1", "AAPL")], "id string, ticker string")
    quotes = spark.createDataFrame(
        [("AAPL", "2024-01-02 09:30:00", 190.0)], "ticker string, bar_ts string, close double"
    ).withColumn("bar_ts", F.col("bar_ts").cast("timestamp_ntz"))
    assert upsert_bars(spark, bars, quotes, companies) == 1
    (c,) = _commits(bars)
    assert "bloom_cols" not in c and "bloom" not in c
    assert Snapshot(bars).bloom_cols is None


def test_cleared_bloom_index_stays_cleared(spark, tmp_path):
    """``set_bloom_columns([])`` clears the index for good: later keyed
    writes neither re-declare it nor index their files."""
    from stonkwhisperer_spark.sinks.writers import (
        Snapshot,
        _commits,
        merge_upsert,
        set_bloom_columns,
        table_detail,
    )

    target = str(tmp_path / "tbl")
    merge_append(spark, target, _articles(spark, n=10), ["url"])
    set_bloom_columns(target, [])
    merge_append(spark, target, _articles(spark, n=10, offset=10), ["url"])
    merge_upsert(spark, target, _articles(spark, n=4, offset=18), ["url"])
    tail = _commits(target)[2:]
    assert [("bloom_cols" in c, "bloom" in c) for c in tail] == [(False, False)] * 2
    assert Snapshot(target).bloom_cols == [] and table_detail(target)["bloom_columns"] == []


def test_racing_first_writers_declare_once(spark, tmp_path):
    """Two first writers race on an empty table: the loser rebuilds on
    the winner's snapshot, which already declares the key, so the log
    holds one declaration and every file is indexed."""
    from stonkwhisperer_spark.sinks.writers import Snapshot, _commits

    target = str(tmp_path / "tbl")
    raced = []

    def rival():
        if not raced:
            raced.append(merge_append(spark, target, _articles(spark, n=5, offset=50), ["url"]))

    assert merge_append(spark, target, _articles(spark, n=5), ["url"], _pre_commit_hook=rival) == 5
    assert raced == [5]
    commits = _commits(target)
    assert [c.get("bloom_cols") for c in commits] == [["url"], None]
    snap = Snapshot(target)
    assert sorted(snap.blooms) == sorted(snap.files) and len(snap.files) == 2


def test_log_checkpoint_and_manifest_vacuum(spark, tmp_path):
    """Log checkpointing: one checkpoint file replaces the manifest
    tail for replay; vacuum_log reclaims covered manifests; every read
    surface (snapshot, time travel, history, CDC) survives on the
    checkpoint alone; new commits append past it."""
    from stonkwhisperer_spark.sinks.writers import (
        _commits,
        _committed_version,
        checkpoint,
        delete_where,
        merge_append,
        merge_upsert,
        read_committed,
        rename_column,
        table_changes,
        table_history,
        vacuum_log,
    )

    target = str(tmp_path / "tbl")
    df = spark.range(40).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    merge_append(spark, target, df.filter(F.col("k") < 20), ["k"])
    merge_append(spark, target, df.filter(F.col("k") >= 20), ["k"])
    merge_upsert(
        spark, target,
        spark.createDataFrame([(5, -5)], "k long, v long"), ["k"],
    )
    delete_where(spark, target, F.col("k") >= 35)
    rename_column(target, "v", "val")
    # Stale temps (a crashed publisher's or checkpointer's) are swept
    # even before any checkpoint exists; a fresh one may be in flight.
    log = os.path.join(target, "_txlog")
    for name in ("00000009.json.tmp-dead", "00000009.json.tmp-live"):
        open(os.path.join(log, name), "w").close()
    os.utime(os.path.join(log, "00000009.json.tmp-dead"), (0, 0))
    assert vacuum_log(target) == ["00000009.json.tmp-dead"]
    assert os.path.exists(os.path.join(log, "00000009.json.tmp-live"))
    full = _commits(target)
    v = checkpoint(target)
    assert v == full[-1]["version"]
    assert _commits(target) == full  # identical replay from checkpoint
    removed = vacuum_log(target)
    assert len(removed) == v  # every covered manifest reclaimed
    # All read surfaces work with the manifests gone.
    got = read_committed(spark, target)
    assert got.columns == ["k", "val"] and got.count() == 35
    assert read_committed(spark, target, version=2).count() == 40
    assert table_history(spark, target).count() == v
    assert table_changes(spark, target, from_version=2).count() > 0
    # New commits land past the checkpoint and replay with the base.
    assert _committed_version(target) == v
    merge_append(
        spark, target, spark.createDataFrame([(100, 1)], "k long, val long"), ["k"]
    )
    assert _committed_version(target) == v + 1
    assert read_committed(spark, target).count() == 36
    # Second checkpoint covers the tail; old checkpoint file reclaimed.
    v2 = checkpoint(target)
    assert v2 == v + 1
    removed2 = vacuum_log(target)
    assert any("_checkpoint" in f for f in removed2)
    assert read_committed(spark, target).count() == 36


def test_table_detail_summarizes_state(spark, tmp_path):
    from stonkwhisperer_spark.sinks.writers import (
        add_constraint,
        add_generated_column,
        delete_where_dv,
        merge_append,
        rename_column,
        set_bloom_columns,
        table_detail,
    )

    target = str(tmp_path / "tbl")
    df = spark.range(30).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    merge_append(spark, target, df.coalesce(1), ["k"])
    add_constraint(spark, target, "pos_k", "k >= 0")
    set_bloom_columns(target, ["k"])
    rename_column(target, "v", "val")
    add_generated_column(target, "dbl", "val * 2")
    delete_where_dv(spark, target, F.col("k") < 3)
    d = table_detail(target)
    assert d["num_files"] == 1 and d["size_bytes"] > 0
    assert d["num_dv_files"] == 1 and d["num_dv_masked_rows"] == 3
    assert d["constraints"] == {"pos_k": "k >= 0"}
    assert d["generated_columns"] == {"dbl": "val * 2"}
    assert d["bloom_columns"] == ["k"]
    assert d["renamed_columns"] == {"val": "v"}
    assert d["version"] == 6 and d["checkpoint_version"] == 0


def test_merge_cdc_txn_applies_typed_changes(spark, tmp_path):
    """CDC-apply merge: delete rows delete, others upsert, absent-key
    deletes no-op, the change column is not written, replays skip."""
    from stonkwhisperer_spark.sinks.writers import (
        merge_cdc_txn,
        merge_upsert_txn,
        read_committed,
    )

    target = str(tmp_path / "tbl")
    seed = spark.range(10).select(F.col("id").alias("k"), F.lit("v0").alias("v"))
    merge_upsert_txn(spark, target, seed, ["k"], "repl", 0)
    batch = spark.createDataFrame(
        [
            (0, "v1", "update_postimage"),   # update
            (3, None, "delete"),             # delete existing
            (77, None, "delete"),            # delete absent -> no-op
            (10, "v1", "insert"),            # insert new
        ],
        "k long, v string, _change_type string",
    )
    ins, upd, n_del = merge_cdc_txn(spark, target, batch, ["k"], "repl", 1)
    assert (ins, upd, n_del) == (1, 1, 1)
    got = read_committed(spark, target)
    assert got.columns == ["k", "v"]  # change column never written
    assert got.count() == 10
    assert got.filter(F.col("k") == 3).count() == 0
    assert got.filter(F.col("k") == 0).first()["v"] == "v1"
    assert got.filter(F.col("k") == 10).first()["v"] == "v1"
    # Replay of the same transaction: structural no-op.
    assert merge_cdc_txn(spark, target, batch, ["k"], "repl", 1) == (0, 0, 0)
    assert read_committed(spark, target).count() == 10


def test_dv_delete_on_partitioned_table(spark, tmp_path):
    """Deletion vectors on a Hive-partitioned layout: the '=' in the
    partition directory must survive the file-URI round trip (a quoted
    '=' would make every kill-list join key miss and the delete a
    silent no-op)."""
    from stonkwhisperer_spark.sinks.writers import (
        delete_where_dv,
        merge_append,
        read_committed,
    )

    target = str(tmp_path / "tbl")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2 == 0).alias("even"),
        F.concat(F.lit("g "), (F.col("id") % 2).cast("string")).alias("grp"),
    )
    merge_append(spark, target, df, ["k"], partition_cols=["grp"])
    n = delete_where_dv(spark, target, F.col("k") < 10)
    assert n == 10
    got = read_committed(spark, target)
    assert got.count() == 30 and got.agg(F.min("k")).collect()[0][0] == 10


def test_type_widening_int_to_long_and_float_to_double(spark, tmp_path):
    """Delta-3.2-style type widening: a batch re-declaring a column at
    a wider lattice type widens the table; old narrow files upcast at
    the scan; narrow batches after widening stay accepted; unrelated
    type changes still fail the writer."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        merge_append,
        merge_upsert,
        read_committed,
        table_schema,
    )

    target = str(tmp_path / "tbl")
    seed = spark.range(10).select(
        F.col("id").alias("k"),
        F.col("id").cast("int").alias("n"),
        (F.col("id") * 1.5).cast("float").alias("x"),
    )
    merge_append(spark, target, seed, ["k"])
    wide = spark.range(10, 20).select(
        F.col("id").alias("k"),
        (F.col("id") * 10_000_000_000).alias("n"),  # needs long
        (F.col("id") * 1.5).cast("double").alias("x"),
    )
    assert merge_append(spark, target, wide, ["k"]) == 10
    sch = {f.name: f.dataType.typeName() for f in table_schema(target).fields}
    assert sch["n"] == "long" and sch["x"] == "double"
    got = read_committed(spark, target)
    assert got.count() == 20
    # Old int rows upcast and aggregate with the long rows.
    assert got.agg(F.sum("n")).collect()[0][0] == 45 + sum(
        i * 10_000_000_000 for i in range(10, 20)
    )
    # Narrow batch AFTER widening: accepted, table stays wide.
    narrow = spark.range(20, 25).select(
        F.col("k").alias("k") if False else F.col("id").alias("k"),
        F.col("id").cast("int").alias("n"),
        F.lit(1.0).cast("float").alias("x"),
    )
    assert merge_append(spark, target, narrow, ["k"]) == 5
    sch2 = {f.name: f.dataType.typeName() for f in table_schema(target).fields}
    assert sch2["n"] == "long" and sch2["x"] == "double"
    assert read_committed(spark, target).count() == 25
    # Upserts across the widened boundary work (union coerces).
    assert merge_upsert(
        spark,
        target,
        spark.createDataFrame([(0, 7, 2.0)], "k long, n int, x float"),
        ["k"],
    ) == (0, 1)
    # A genuinely incompatible re-type still fails the writer.
    bad = spark.range(1).select(
        F.col("id").alias("k"), F.lit("oops").alias("n"), F.lit(1.0).alias("x")
    )
    with pytest.raises(ValueError, match="type conflict"):
        merge_append(spark, target, bad, ["k"])


def test_update_where_copy_on_write(spark, tmp_path):
    """UPDATE SET ... WHERE: only matched files rewritten, SET sees the
    pre-image, typed pre/post CDC, constraints gate the post-image."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        add_constraint,
        merge_append,
        read_committed,
        table_changes,
        update_where,
    )

    target = str(tmp_path / "tbl")
    df = spark.range(30).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    for lo in (0, 10, 20):
        merge_append(
            spark, target, df.filter(F.col("k").between(lo, lo + 9)).coalesce(1), ["k"]
        )
    v_seed = _committed_version(target)
    before = {
        f: os.path.getmtime(os.path.join(target, f))
        for f in __import__("stonkwhisperer_spark.sinks.writers", fromlist=["committed_files"]).committed_files(target)
    }
    n = update_where(
        spark, target, {"v": F.col("v") + 1000}, F.col("k").between(10, 19)
    )
    assert n == 10
    got = read_committed(spark, target)
    assert got.count() == 30
    assert got.filter(F.col("v") >= 1000).count() == 10
    assert got.filter((F.col("k") == 15) & (F.col("v") == 1150)).count() == 1
    # Only the matched file was replaced: the other two kept their mtimes.
    from stonkwhisperer_spark.sinks.writers import committed_files

    after_files = set(committed_files(target))
    untouched = {f for f in before if f in after_files}
    assert len(untouched) == 2
    feed = table_changes(spark, target, from_version=v_seed)
    kinds = {
        r["_change_type"]: r["cnt"]
        for r in feed.groupBy("_change_type").agg(F.count("*").alias("cnt")).collect()
    }
    assert kinds == {"update_preimage": 10, "update_postimage": 10}
    # Constraint gates the POST-image.
    add_constraint(spark, target, "v_cap", "v < 100000")
    with pytest.raises(ValueError, match="v_cap"):
        update_where(spark, target, {"v": F.col("v") + 1_000_000}, F.col("k") == 0)


def test_update_where_dv_merge_on_read(spark, tmp_path):
    """DV-backed UPDATE: one commit masks pre-images and adds the
    post-image file — NO existing data file rewritten; stacking works;
    compaction folds the halves."""
    from stonkwhisperer_spark.sinks.writers import (
        Snapshot,
        committed_files,
        compact,
        merge_append,
        read_committed,
        update_where_dv,
    )

    target = str(tmp_path / "tbl")
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    merge_append(spark, target, df.filter(F.col("k") < 10).coalesce(1), ["k"])
    merge_append(spark, target, df.filter(F.col("k") >= 10).coalesce(1), ["k"])
    before = {
        f: os.path.getmtime(os.path.join(target, f))
        for f in committed_files(target)
    }
    n = update_where_dv(
        spark, target, {"v": F.col("v") + 5}, F.col("k").isin(3, 13)
    )
    assert n == 2
    # Every PRE-existing file untouched; one new post-image file added.
    after = {
        f: os.path.getmtime(os.path.join(target, f))
        for f in committed_files(target)
    }
    assert all(after[f] == m for f, m in before.items())
    assert len(after) > len(before)  # only post-image file(s) added
    assert Snapshot(target).dv
    got = read_committed(spark, target)
    assert got.count() == 20
    assert {r["v"] for r in got.filter(F.col("k").isin(3, 13)).collect()} == {35, 135}
    # Stacked second update over the first's post-images.
    assert update_where_dv(
        spark, target, {"v": F.col("v") + 1}, F.col("k") == 3
    ) == 1
    assert read_committed(spark, target).filter(F.col("k") == 3).first()["v"] == 36
    # Compaction folds masks + post-images into plain files.
    compact(spark, target)
    assert Snapshot(target).dv == {}
    assert read_committed(spark, target).count() == 20


def test_update_recomputes_generated_columns(spark, tmp_path):
    from stonkwhisperer_spark.sinks.writers import (
        add_generated_column,
        merge_append,
        read_committed,
        update_where,
    )

    target = str(tmp_path / "tbl")
    seed = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    merge_append(spark, target, seed, ["k"])
    add_generated_column(target, "dbl", "v * 2")
    merge_append(
        spark, target, spark.createDataFrame([(10, 7)], "k long, v long"), ["k"]
    )
    update_where(spark, target, {"v": F.lit(100)}, F.col("k") == 10)
    row = read_committed(spark, target).filter(F.col("k") == 10).first()
    assert row["v"] == 100 and row["dbl"] == 200  # generated recomputed


# ---------------------------------------------------------------------------
# DEEP CLONE (clone_table): independence, version travel, metadata carry.
# ---------------------------------------------------------------------------
def test_clone_at_version_and_isolation(spark, tmp_path):
    from stonkwhisperer_spark.sinks.writers import (
        clone_table,
        delete_where,
        merge_append,
        read_committed,
        vacuum,
    )

    src, dst1, dst2 = (str(tmp_path / d) for d in ("src", "v1", "head"))
    merge_append(spark, src, _articles(spark), ["url"])  # v1: 20 rows
    merge_append(spark, src, _articles(spark, n=10, offset=20), ["url"])  # v2
    clone_table(src, dst1, version=1)
    clone_table(src, dst2)
    assert read_committed(spark, dst1).count() == 20
    assert read_committed(spark, dst2).count() == 30
    # Clone history is fresh: version travel inside the clone reaches
    # only its own commits.
    assert read_committed(spark, dst2, version=1).count() == 30
    # Mutating the source (delete + vacuum reclaiming the old files)
    # must not disturb either clone: hardlinked inodes survive the
    # source-side unlink.
    delete_where(spark, src, F.col("url").isNotNull())
    vacuum(src, retain_versions=0, unsafe_zero_retention=True)
    assert read_committed(spark, dst1).count() == 20
    assert read_committed(spark, dst2).count() == 30
    # And mutating a clone must not disturb the source's view.
    merge_append(spark, dst1, _articles(spark, n=5, offset=100), ["url"])
    assert read_committed(spark, dst1).count() == 25
    assert read_committed(spark, src) is None  # fully deleted above


def test_clone_refuses_nonempty_destination(spark, tmp_path):
    import pytest

    from stonkwhisperer_spark.sinks.writers import clone_table, merge_append

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    merge_append(spark, src, _articles(spark), ["url"])
    clone_table(src, dst)
    with pytest.raises(ValueError, match="already has a transaction log"):
        clone_table(src, dst)


def test_clone_carries_constraints_and_dv(spark, tmp_path):
    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        add_constraint,
        clone_table,
        delete_where_dv,
        merge_append,
        read_committed,
        table_constraints,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    merge_append(spark, src, _articles(spark), ["url"])
    add_constraint(spark, src, "has_title", "title IS NOT NULL")
    delete_where_dv(spark, src, F.col("url") == "https://ex.com/3")
    clone_table(src, dst)
    assert read_committed(spark, dst).count() == 19  # DV mask carried
    assert table_constraints(dst) == {"has_title": "title IS NOT NULL"}
    bad = spark.range(1).select(
        F.lit("https://ex.com/x").alias("url"),
        F.lit(None).cast("string").alias("title"),
    )
    with pytest.raises(ValueError, match="has_title"):
        merge_append(spark, dst, bad, ["url"])


def test_clone_change_feed_omits_masked_rows(spark, tmp_path):
    """A CLONE of a table with deletion vectors links the masked files
    whole. Its change feed from version 0, batch and streaming, must
    apply the clone commit's own kill lists: inserts for exactly the
    rows the clone reads."""
    from stonkwhisperer_spark.sinks.writers import (
        clone_table,
        delete_where_dv,
        read_committed,
        table_changes,
    )
    from stonkwhisperer_spark.sources.txlog_stream import _table_schema, _TxlogStreamReader

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    rows = spark.createDataFrame([(k, f"v{k}") for k in range(5)], "k long, v string")
    merge_append(spark, src, rows, ["k"])
    delete_where_dv(spark, src, F.col("k") < 2)
    clone_table(src, dst)
    assert sorted(r.k for r in read_committed(spark, dst).collect()) == [2, 3, 4]
    feed = table_changes(spark, dst, 0).collect()
    assert sorted((r.k, r._change_type) for r in feed) == [
        (2, "insert"),
        (3, "insert"),
        (4, "insert"),
    ]
    reader = _TxlogStreamReader(_table_schema(dst), {"path": dst})
    streamed = [
        row
        for p in reader.partitions(reader.initialOffset(), reader.latestOffset())
        for rb in reader.read(p)
        for row in rb.to_pylist()
    ]
    assert sorted((r["k"], r["_change_type"]) for r in streamed) == [
        (2, "insert"),
        (3, "insert"),
        (4, "insert"),
    ]


def test_clone_replays_rename_swaps(spark, tmp_path):
    """ADVICE-r6: a rename cycle (a->t, b->a, t->b, i.e. swap url/title)
    nets to {url: title, title: url}; replayed as direct renames those
    chain through each other (each rename pops the prior entry) and
    collapse to the identity map, silently reading the wrong physical
    columns in the clone. The temp-name replay must reproduce the
    source's logical view exactly.

    rename_column's retired-name guard blocks building this cycle via
    the public API, but the txlog manifest is the table's PUBLIC FORMAT
    — another writer can legally produce it — so the swap commits are
    laid down directly."""
    from stonkwhisperer_spark.sinks.writers import (
        _try_commit,
        clone_table,
        merge_append,
        read_committed,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    merge_append(spark, src, _articles(spark, n=5), ["url"])
    for i, r in enumerate(
        [
            {"from": "url", "to": "tmpswap"},
            {"from": "title", "to": "url"},
            {"from": "tmpswap", "to": "title"},
        ]
    ):
        assert _try_commit(
            src, 2 + i, {"rename": r, "op": "RENAME"}
        )
    src_rows = {
        (r["url"], r["title"]) for r in read_committed(spark, src).collect()
    }
    assert ("title 0", "https://ex.com/0") in src_rows  # swap took effect
    clone_table(src, dst)
    got = {
        (r["url"], r["title"]) for r in read_committed(spark, dst).collect()
    }
    assert got == src_rows


def test_partial_bloom_index_still_indexes_missing_files(spark, tmp_path, monkeypatch):
    """A bloom map that covers only some of a commit's added files must
    not leave the others silently unindexed on a bloom-declared table.
    CLONE carries such a map: a source file committed before
    set_bloom_columns, by a writer that names no key, has no filter.
    The clone indexes that file, and carries the source's filter for
    the other one (not rebuilt)."""
    from stonkwhisperer_spark.sinks import writers as wr

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    wr.append_txn(spark, src, _articles(spark, n=5).coalesce(1), "seed", 0)
    wr.set_bloom_columns(src, ["url"])
    merge_append(spark, src, _articles(spark, n=5, offset=5).coalesce(1), ["url"])
    source = wr.Snapshot(src)
    assert len(source.files) == 2 and len(source.blooms) == 1
    built = []
    build = wr._bloom_build

    def counted(*args, **kwargs):
        built.append(args)
        return build(*args, **kwargs)

    monkeypatch.setattr(wr, "_bloom_build", counted)
    wr.clone_table(src, dst)
    blooms = wr.Snapshot(dst).blooms
    assert sorted(blooms) == sorted(source.files)
    for f in source.files:
        assert "url" in blooms[f], f"file {f} left unindexed"
    (indexed,) = source.blooms
    assert blooms[indexed] == source.blooms[indexed]
    assert len(built) == 1  # only the unindexed file was read


def test_unknown_reader_feature_refuses_to_read(spark, tmp_path):
    """Protocol guard (VERDICT-r6 task 8): a manifest declaring a
    feature this reader doesn't know must REFUSE to read — an ignorant
    reader would silently misread the table (e.g. resurrect
    DV-deleted rows). Known features keep reading fine."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from stonkwhisperer_spark.sinks.writers import (
        _commits,
        merge_append,
        read_committed,
    )

    target = str(tmp_path / "t")
    merge_append(spark, target, _articles(spark), ["url"])
    assert read_committed(spark, target).count() == 20
    log = _os.path.join(target, "_txlog")
    with open(_os.path.join(log, "00000002.json"), "w") as fh:
        _json.dump(
            {"add": [], "n": 0, "features": ["wormhole-compression-v9"]},
            fh,
        )
    with _pytest.raises(ValueError, match="wormhole-compression-v9"):
        _commits(target)
    with _pytest.raises(ValueError, match="does not support"):
        read_committed(spark, target)


_BASE_KEYS = ["add", "n", "ts"]
_DATA_KEYS = [*_BASE_KEYS, "sizes", "bloom"]
# One call of every committing writer, in order, with what it returns
# and the manifest it writes: (result, op, n, manifest keys, features).
_FORMAT_PIN = [
    (10, "MERGE APPEND", 10, [*_DATA_KEYS, "bloom_cols", "stats", "schema"], None),
    (None, "ADD CONSTRAINT", 0, [*_BASE_KEYS, "constraints_add"], ["check-constraints"]),
    (None, "DROP CONSTRAINT", 0, [*_BASE_KEYS, "constraints_drop"], None),
    (None, "ADD GENERATED COLUMN", 0, [*_BASE_KEYS, "generated_add"], ["generated-columns"]),
    (None, "DROP GENERATED COLUMN", 0, [*_BASE_KEYS, "generated_drop"], None),
    (None, "SET BLOOM COLUMNS", 0, [*_BASE_KEYS, "bloom_cols"], None),
    (5, "STREAMING UPDATE", 5, [*_DATA_KEYS, "stats", "schema", "txn"], None),
    ((1, 2), "MERGE", 3, [*_DATA_KEYS, "remove", "stats", "schema", "cdc"], None),
    (1, "DELETE", 0, [*_DATA_KEYS, "remove", "stats", "cdc"], None),
    ((1, 1), "REPLACE WHERE", 1, [*_DATA_KEYS, "remove", "stats", "schema", "cdc"], None),
    (1, "UPDATE", 1, [*_DATA_KEYS, "remove", "stats", "schema", "cdc"], None),
    (1, "UPDATE", 1, [*_DATA_KEYS, "stats", "schema", "cdc", "dv"], ["deletion-vectors"]),
    (1, "DELETE", 0, [*_BASE_KEYS, "sizes", "cdc", "dv"], ["deletion-vectors"]),
    (3, "OPTIMIZE", 0, [*_DATA_KEYS, "remove", "compaction", "stats"], None),
    (None, "RENAME COLUMN", 0, [*_BASE_KEYS, "rename"], ["column-mapping"]),
    (None, "DROP COLUMN", 0, [*_BASE_KEYS, "drop_col"], ["column-mapping"]),
    (
        (3, 1), "RESTORE", 14,
        [*_DATA_KEYS, "remove", "stats", "cdc", "dv", "restore"], ["deletion-vectors"],
    ),
    (12, "VACUUM", 0, [*_BASE_KEYS, "vacuum"], None),
]
_CLONE_PIN = [
    ("CLONE", [*_DATA_KEYS, "bloom_cols", "stats", "schema", "dv"], ["deletion-vectors"]),
    ("CLONE", [*_BASE_KEYS, "rename"], ["column-mapping"]),
    ("CLONE", [*_BASE_KEYS, "rename"], ["column-mapping"]),
    ("CLONE", [*_BASE_KEYS, "drop_col"], ["column-mapping"]),
]


def _last(target, key="add"):
    from stonkwhisperer_spark.sinks.writers import _commits

    return _commits(target)[-1].get(key, [])


@contextlib.contextmanager
def _session_conf(spark, settings):
    """Set session ``settings`` for the block and restore them after."""
    prev = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


# With AQE off, as in every streaming micro-batch with a stateful
# operator, staging sizes its output by the explicit estimate rule.
_AQE_OFF = {"spark.sql.adaptive.enabled": "false"}
_ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def _hashed_rows(spark, path, n=5000):
    """``n`` rows of (k, 64-char hex h, grp in a/b/c) written as parquet
    at ``path``: some hundred KB, far above a 4k advisory size."""
    spark.range(n).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("h"),
        F.element_at(F.array(*map(F.lit, "abc")), (F.col("id") % 3 + 1).cast("int")).alias("grp"),
    ).write.parquet(path)
    size = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet"))
    assert size > 16 * 1024


def test_staging_sizes_a_joined_batch_as_one_file(spark, tmp_path):
    """With AQE off, a file-sourced batch inner-joined to a
    createDataFrame dimension and merged into a non-empty table stages
    ONE file: the dimension's size is unknown to Spark (it counts 0,
    not Long.MaxValue) and the join sums its sides instead of
    multiplying them — either wrong rule sends the write to the
    shuffle-partition cap, one file per task."""
    src, target = str(tmp_path / "src"), str(tmp_path / "tbl")
    spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("c")
    ).write.parquet(src)
    dim = spark.createDataFrame([(i, f"name {i}") for i in range(4)], "c long, name string")
    with _session_conf(spark, _AQE_OFF):
        merge_append(spark, target, spark.read.parquet(src).where("k < 10").join(dim, "c"), ["k"])
        batch = spark.read.parquet(src).join(dim, "c")
        assert merge_append(spark, target, batch, ["k"]) == 190
    assert len(_last(target)) == 1


def test_staging_file_count_follows_advisory_size(spark, tmp_path):
    """With AQE off, the staged file count is the batch's estimated
    bytes over spark.sql.adaptive.advisoryPartitionSizeInBytes, capped
    at spark.sql.shuffle.partitions; a partitioned batch is hashed on
    its partition column and stages one file under each value it
    holds."""
    src = str(tmp_path / "src")
    _hashed_rows(spark, src)
    flat, parted = str(tmp_path / "flat"), str(tmp_path / "parted")
    with _session_conf(spark, {**_AQE_OFF, _ADVISORY: "4k"}):
        assert merge_append(spark, flat, spark.read.parquet(src), ["k"]) == 5000
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert 1 < len(_last(flat)) <= cap
        assert merge_append(
            spark, parted, spark.read.parquet(src), ["k"], partition_cols=["grp"]
        ) == 5000
    dirs = sorted(os.path.dirname(f) for f in _last(parted))
    assert dirs == ["grp=a", "grp=b", "grp=c"]


def test_staging_with_aqe_splits_a_large_partition_value(spark, tmp_path):
    """With AQE on, a partition value whose rows exceed the advisory
    size is split into several files instead of one task's file. AQE
    splits a value only at the boundaries of the upstream tasks, so the
    coalescing floor is lowered too: the batch's dedup stage keeps
    several tasks instead of one."""
    src, parted = str(tmp_path / "src"), str(tmp_path / "parted")
    _hashed_rows(spark, src)
    floor = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    with _session_conf(spark, {_ADVISORY: "4k", floor: "4k"}):
        assert merge_append(
            spark, parted, spark.read.parquet(src), ["k"], partition_cols=["grp"]
        ) == 5000
    dirs = [os.path.dirname(f) for f in _last(parted)]
    assert sorted(set(dirs)) == ["grp=a", "grp=b", "grp=c"]
    assert all(dirs.count(d) > 1 for d in set(dirs))


def test_staging_with_aqe_sizes_rewrites_by_measured_bytes(spark, tmp_path):
    """With AQE on, a rewrite stages by the bytes it really writes, not
    by a plan estimate: a file-sourced merge_upsert into a
    parquet-seeded table (its touched slice is checkpointed after a
    join) stages one data and one change-data file, and a deletion-vector
    delete of a few rows of a table far larger than the advisory size
    (its slice is a checkpointed filter) stages one kill list."""
    from stonkwhisperer_spark.sinks.writers import delete_where_dv, merge_upsert

    src, target = str(tmp_path / "src"), str(tmp_path / "tbl")
    _hashed_rows(spark, src)
    merge_append(spark, target, spark.read.parquet(src), ["k"])
    upd = str(tmp_path / "upd")
    spark.read.parquet(src).where("k % 50 = 0 or k >= 4990").withColumn(
        "k", F.col("k") + 5
    ).write.parquet(upd)
    assert merge_upsert(spark, target, spark.read.parquet(upd), ["k"]) == (5, 105)
    assert (len(_last(target)), len(_last(target, "cdc"))) == (1, 1)
    with _session_conf(spark, {_ADVISORY: "4k"}):
        assert delete_where_dv(spark, target, F.col("k") < 3) == 3
    assert len(_last(target, "dv")["add"]) == 1
    assert len(_last(target, "cdc")) == 1


def test_feature_flags_stamped_on_commits(spark, tmp_path):
    """Pins the on-disk manifest format: one call of each committing
    writer, and for each manifest its full ordered key set and its
    ``n``, ``op``, ``remove`` and ``features`` values. Commits using
    reader-breaking features declare them; plain appends stay
    unstamped (old readers read them fine)."""
    import pyarrow.parquet as pq

    from stonkwhisperer_spark.sinks import writers as wr

    target, dst = str(tmp_path / "t"), str(tmp_path / "dst")

    def rows(*ks):
        return spark.createDataFrame(
            [(k, k, 10 * k) for k in ks], "k long, v long, w long"
        ).coalesce(1)

    def holding(version, keys):
        """Files live at ``version`` holding any of ``keys`` in ``k``."""
        return sorted(
            f
            for f in wr.committed_files(target, version)
            if set(pq.read_table(os.path.join(target, f), columns=["k"])
                   .column(0).to_pylist()) & set(keys)
        )

    results = [
        wr.merge_append(spark, target, rows(*range(10)), ["k"]),
        wr.add_constraint(spark, target, "v_nonneg", "v >= 0"),
        wr.drop_constraint(target, "v_nonneg"),
        wr.add_generated_column(target, "g", "k + 1"),
        wr.drop_generated_column(target, "g"),
        wr.set_bloom_columns(target, ["k"]),
        wr.append_txn(spark, target, rows(*range(10, 15)), "app", 0),
        wr.merge_upsert(
            spark, target,
            rows(0, 1, 20).withColumn(
                "v", F.when(F.col("k") < 2, F.col("v") + 100).otherwise(F.col("v"))
            ),
            ["k"],
        ),
        wr.delete_where(spark, target, F.col("k") == 2),
        wr.overwrite_where(
            spark, target, rows(3).withColumn("v", F.lit(33).cast("long")), F.col("k") == 3
        ),
        wr.update_where(spark, target, {"v": F.col("v") + 1}, F.col("k") == 4),
        wr.update_where_dv(spark, target, {"v": F.col("v") + 1}, F.col("k") == 5),
        wr.delete_where_dv(spark, target, F.col("k") == 6),
        wr.compact(spark, target),
        wr.rename_column(target, "v", "val"),
        wr.drop_column(target, "w"),
        wr.restore(spark, target, version=13),
    ]
    # Checked before the vacuum reclaims the removed files.
    removes = {c["version"]: c["remove"] for c in wr._commits(target) if "remove" in c}
    assert removes == {
        8: holding(7, [0, 1]),
        9: holding(8, [2]),
        10: holding(9, [3]),
        11: holding(10, [4]),
        14: wr.committed_files(target, 13),
        17: sorted(set(wr.committed_files(target, 16)) - set(wr.committed_files(target, 13))),
    }
    results.append(len(wr.vacuum(target, retain_versions=0, unsafe_zero_retention=True)))
    assert results == [pin[0] for pin in _FORMAT_PIN]
    commits = wr._commits(target)
    assert [c["version"] for c in commits] == list(range(1, len(_FORMAT_PIN) + 1))
    for c, (_, op, n, keys, features) in zip(commits, _FORMAT_PIN):
        body = [k for k in c if k != "version"]
        expected = keys + ["op"] + (["features"] if features else [])
        assert body == expected, (c["version"], body)
        assert (c["op"], c["n"], c.get("features")) == (op, n, features)
    got = wr.read_committed(spark, target)
    assert got.columns == ["k", "val"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (0, 100), (1, 101), (3, 33), (4, 5), (5, 6), (7, 7), (8, 8), (9, 9),
        (10, 10), (11, 11), (12, 12), (13, 13), (14, 14), (20, 20),
    ]

    assert wr.clone_table(target, dst) == len(_CLONE_PIN)
    for c, (op, keys, features) in zip(wr._commits(dst), _CLONE_PIN):
        assert [k for k in c if k != "version"] == keys + ["op", "features"]
        assert (c["op"], c["n"], c.get("features")) == (op, 0, features)
