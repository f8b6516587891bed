"""Merge-on-read DELETE (deletion vectors) on the parquet txlog:
point deletes mask rows via (file, row-index) kill lists instead of
rewriting files; every read surface applies them; rewrites purge them.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from stonkwhisperer_spark.sinks.writers import (
    _STALE_S,
    Snapshot,
    _commits,
    _table_files,
    committed_files,
    compact,
    delete_where_dv,
    merge_append,
    merge_upsert,
    read_committed,
    read_committed_pruned,
    restore,
    table_changes,
    vacuum,
    vacuum_orphans,
)


def _seed(spark, target, n=100, parts=4):
    """Seed in ``parts`` separate commits so the table has several data
    files (each merge_append batch lands as one file)."""
    df = (
        spark.range(n)
        .withColumnRenamed("id", "k")
        .withColumn("v", (F.col("k") * 10).cast("long"))
    )
    per = max(1, n // parts)
    for i in range(parts):
        lo, hi = i * per, (i + 1) * per if i < parts - 1 else n
        merge_append(
            spark, target, df.filter(F.col("k").between(lo, hi - 1)), ["k"]
        )
    return df


def test_dv_delete_masks_rows_without_touching_data_files(spark, tmp_path):
    target = str(tmp_path / "t")
    _seed(spark, target)
    before = {
        f: os.path.getmtime(os.path.join(target, f))
        for f in committed_files(target)
    }
    n = delete_where_dv(spark, target, F.col("k") < 20)
    assert n == 20
    # Data files: identical set, untouched bytes — the merge-on-read
    # contract (copy-on-write would have rewritten every file).
    after = {
        f: os.path.getmtime(os.path.join(target, f))
        for f in committed_files(target)
    }
    assert after == before
    got = read_committed(spark, target)
    assert got.count() == 80
    assert got.agg(F.min("k")).collect()[0][0] == 20
    # The commit is metadata + kill list: no adds, no removes.
    head = _commits(target)[-1]
    assert head["add"] == [] and "remove" not in head
    assert head["dv"]["n"] == 20
    # A second delete stacks on the first.
    assert delete_where_dv(spark, target, F.col("k") < 30) == 10
    assert read_committed(spark, target).count() == 70
    # Deleting already-deleted rows is a no-op, not a double delete.
    assert delete_where_dv(spark, target, F.col("k") < 30) == 0


def test_dv_delete_emits_typed_cdc(spark, tmp_path):
    target = str(tmp_path / "t")
    _seed(spark, target, n=50)
    v_seed = _commits(target)[-1]["version"]
    delete_where_dv(spark, target, F.col("k").between(10, 19))
    feed = table_changes(spark, target, from_version=v_seed, with_version=True)
    rows = feed.select("k", "_change_type", "_commit_version").collect()
    assert len(rows) == 10
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert sorted(r["k"] for r in rows) == list(range(10, 20))
    assert {r["_commit_version"] for r in rows} == {v_seed + 1}


def test_dv_deleted_key_reinserts_as_insert(spark, tmp_path):
    target = str(tmp_path / "t")
    _seed(spark, target, n=30)
    delete_where_dv(spark, target, F.col("k") == 7)
    batch = spark.createDataFrame([(7, 777)], "k long, v long")
    inserted, updated = merge_upsert(spark, target, batch, ["k"])
    # The masked row is not part of the table: its key INSERTS.
    assert (inserted, updated) == (1, 0)
    got = read_committed(spark, target).filter(F.col("k") == 7).collect()
    assert [(r["k"], r["v"]) for r in got] == [(7, 777)]


def test_rewrites_purge_deletion_vectors(spark, tmp_path):
    target = str(tmp_path / "t")
    _seed(spark, target)
    delete_where_dv(spark, target, F.col("k") < 10)
    assert Snapshot(target).dv  # DVs in force
    replaced = compact(spark, target)
    assert replaced > 0
    # Compaction read the DV-filtered view and removed the masked
    # files: state empty, contents unchanged, output files DV-free.
    assert Snapshot(target).dv == {}
    got = read_committed(spark, target)
    assert got.count() == 90 and got.agg(F.min("k")).collect()[0][0] == 10
    # And the DV anti-join is gone from the read plan.
    assert "LeftAnti" not in got._jdf.queryExecution().executedPlan().toString()


def test_merge_upsert_rewrite_materializes_dvs_for_touched_files(spark, tmp_path):
    target = str(tmp_path / "t")
    _seed(spark, target, n=40, parts=2)
    delete_where_dv(spark, target, F.col("k") < 5)
    # Upsert keys 30..34: rewrites the touched file(s) WITHOUT
    # resurrecting the masked rows they contained.
    batch = spark.createDataFrame([(k, -1) for k in range(30, 35)], "k long, v long")
    merge_upsert(spark, target, batch, ["k"])
    got = read_committed(spark, target)
    assert got.count() == 35
    assert got.filter(F.col("k") < 5).count() == 0
    assert got.filter(F.col("v") == -1).count() == 5


def test_dv_time_travel_and_pruned_reads(spark, tmp_path):
    target = str(tmp_path / "t")
    _seed(spark, target)
    v1 = _commits(target)[-1]["version"]
    delete_where_dv(spark, target, F.col("k").between(40, 59))
    # Time travel BEFORE the delete sees all rows; at head, masked.
    assert read_committed(spark, target, version=v1).count() == 100
    assert read_committed(spark, target).count() == 80
    # Zone-map-pruned reads apply DVs too.
    df, _, _ = read_committed_pruned(spark, target, "k", 30, 70)
    assert df.count() == 21  # 30..70 minus 40..59


def test_restore_reverts_and_replays_dv_state(spark, tmp_path):
    target = str(tmp_path / "t")
    _seed(spark, target, n=60)
    v1 = _commits(target)[-1]["version"]
    delete_where_dv(spark, target, F.col("k") < 15)
    assert read_committed(spark, target).count() == 45
    # Restore to the pre-delete version: same FILE view, different DV
    # state — must be a real commit resurrecting the 15 rows.
    restore(spark, target, version=v1)
    assert read_committed(spark, target).count() == 60
    head = _commits(target)[-1]
    assert head["dv"]["reset"] == {}
    feed = table_changes(spark, target, from_version=head["version"] - 1)
    rows = feed.select("k", "_change_type").collect()
    assert sorted(r["k"] for r in rows) == list(range(15))
    assert {r["_change_type"] for r in rows} == {"insert"}
    # Time travel to the deleted-state version still shows the mask.
    assert read_committed(spark, target, version=v1 + 1).count() == 45


def test_vacuum_respects_then_reclaims_dv_files(spark, tmp_path):
    target = str(tmp_path / "t")
    _seed(spark, target)
    delete_where_dv(spark, target, F.col("k") < 10)
    dv_files = [
        d for dvs in Snapshot(target).dv.values() for d in dvs
    ]
    assert dv_files
    # Orphan sweep keeps committed DV files. Every file is aged past the
    # sweep's in-flight bound, so a leaked stage is swept too.
    stale = time.time() - 2 * _STALE_S
    for rel in _table_files(target):
        os.utime(os.path.join(target, rel), (stale, stale))
    assert vacuum_orphans(target) == []
    compact(spark, target)
    # Retention vacuum with a window spanning the DV snapshot keeps it…
    vacuum(target, retain_versions=10)
    assert all(os.path.exists(os.path.join(target, d)) for d in dv_files)
    # …and a zero-retention vacuum past the compaction reclaims it.
    vacuum(target, retain_versions=0, unsafe_zero_retention=True)
    assert not any(os.path.exists(os.path.join(target, d)) for d in dv_files)
    assert read_committed(spark, target).count() == 90


def test_forget_purge_vacuum_makes_pre_erasure_version_unreadable(
    spark, tmp_path
):
    """The full GDPR cascade (the bm25_forget_vacuum query's contract
    at unit scale): DV-mask -> compaction purge -> zero-retention
    vacuum must (1) reclaim every pre-erasure data file from disk,
    (2) make time travel to the pre-erasure version fail with the
    retention error instead of a mid-scan FileNotFound, and (3) leave
    the current snapshot intact."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import _committed_version

    target = str(tmp_path / "t")
    _seed(spark, target)
    v_pre = _committed_version(target)
    files_pre = set(committed_files(target))
    assert delete_where_dv(spark, target, F.col("k") < 10) == 10
    assert compact(spark, target, min_files=1) > 0
    assert not files_pre & set(committed_files(target))
    removed = set(vacuum(target, retain_versions=0, unsafe_zero_retention=True))
    assert files_pre <= removed
    assert not any(
        os.path.exists(os.path.join(target, f)) for f in files_pre
    )
    with pytest.raises(ValueError, match="retention horizon"):
        read_committed(spark, target, version=v_pre)
    assert read_committed(spark, target).count() == 90


def test_copy_on_write_delete_vacuum_erasure_end_state(spark, tmp_path):
    """The OTHER physical erasure strategy (copy-on-write delete, the
    band index's path in minhash_index_forget) composed with
    zero-retention vacuum: the rewrite already removed the matched
    files from the head snapshot, so vacuum reclaims them directly —
    no purge compaction needed — and the pre-erasure version becomes
    unreadable while the current snapshot is untouched. Together with
    test_forget_purge_vacuum_makes_pre_erasure_version_unreadable
    (DV mask + purge) both delete strategies' retention end states are
    pinned."""
    import pytest

    from stonkwhisperer_spark.sinks.writers import (
        _committed_version,
        delete_where,
    )

    target = str(tmp_path / "t")
    _seed(spark, target)
    v_pre = _committed_version(target)
    files_pre = set(committed_files(target))
    assert delete_where(spark, target, F.col("k") < 10) == 10
    # Copy-on-write: every file owning a matched key was rewritten out
    # of the head snapshot by the delete itself.
    rewritten = files_pre - set(committed_files(target))
    assert rewritten
    removed = set(vacuum(target, retain_versions=0, unsafe_zero_retention=True))
    assert rewritten <= removed
    assert not any(
        os.path.exists(os.path.join(target, f)) for f in rewritten
    )
    with pytest.raises(ValueError, match="retention horizon"):
        read_committed(spark, target, version=v_pre)
    assert read_committed(spark, target).count() == 90


def test_dv_delete_concurrent_with_merge_serializes(spark, tmp_path):
    target = str(tmp_path / "t")
    _seed(spark, target, n=40, parts=2)

    fired = {"done": False}

    def interloper():
        if fired["done"]:
            return
        fired["done"] = True
        # Lands a compaction between the delete's compute and its CAS —
        # the delete must recompute against the rewritten files.
        compact(spark, target)

    n = delete_where_dv(
        spark, target, F.col("k") < 8, _pre_commit_hook=interloper
    )
    assert n == 8
    got = read_committed(spark, target)
    assert got.count() == 32 and got.agg(F.min("k")).collect()[0][0] == 8
    # The kill list targets the COMPACTED files (the pre-compaction
    # ones are no longer committed).
    state = Snapshot(target).dv
    assert set(state) <= set(committed_files(target))
