"""Commit-protocol fault injection for every txlog writer.

Each committing writer is run twice on byte-identical copies of one
table: once uncontended, once with the publish step losing its first
attempt (as if a concurrent writer had taken the version). The
contended run must return the same result, add exactly one log
version, leave the same committed rows and leave no more unreferenced
files than the uncontended run. A second test tears the manifest body
mid-write and checks the table stays readable and writable at the next
version.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from stonkwhisperer_spark.sinks import writers as wr


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.col("id").alias("v"),
        (F.col("id") * 10).alias("w"),
    )


@pytest.fixture(scope="module")
def base_table(spark, tmp_path_factory):
    """Two data files, a constraint, a generated column, a removed file
    (for vacuum and restore) and a bloom declaration."""
    path = str(tmp_path_factory.mktemp("cas") / "base")
    wr.merge_append(spark, path, _rows(spark, 0, 10).coalesce(1), ["k"])
    wr.merge_append(spark, path, _rows(spark, 10, 20).coalesce(1), ["k"])
    wr.add_constraint(spark, path, "v_nonneg", "v >= 0")
    wr.add_generated_column(path, "g", "k + 1")
    wr.delete_where(spark, path, F.col("k") == 0)
    wr.set_bloom_columns(path, ["k"])
    return path


WRITERS = {
    "add_constraint": lambda s, t: wr.add_constraint(s, t, "k_nonneg", "k >= 0"),
    "drop_constraint": lambda s, t: wr.drop_constraint(t, "v_nonneg"),
    "set_bloom_columns": lambda s, t: wr.set_bloom_columns(t, ["v"]),
    "add_generated_column": lambda s, t: wr.add_generated_column(t, "h", "k * 2"),
    "drop_generated_column": lambda s, t: wr.drop_generated_column(t, "g"),
    "rename_column": lambda s, t: wr.rename_column(t, "w", "w2"),
    "drop_column": lambda s, t: wr.drop_column(t, "w"),
    "compact": lambda s, t: wr.compact(s, t),
    "vacuum": lambda s, t: wr.vacuum(t, retain_versions=0, unsafe_zero_retention=True),
    "restore": lambda s, t: wr.restore(s, t, version=2),
    "append_txn": lambda s, t: wr.append_txn(s, t, _rows(s, 30, 33), "app", 0),
    "merge_append": lambda s, t: wr.merge_append(s, t, _rows(s, 15, 25), ["k"]),
    "merge_upsert": lambda s, t: wr.merge_upsert(
        s, t, _rows(s, 18, 22).withColumn("v", F.col("v") + 100), ["k"],
        schema_evolution=True,
    ),
    "delete_where": lambda s, t: wr.delete_where(s, t, F.col("k") == 3),
    "overwrite_where": lambda s, t: wr.overwrite_where(
        s, t, _rows(s, 4, 5).withColumn("v", F.lit(44).cast("long")), F.col("k") == 4
    ),
    "update_where": lambda s, t: wr.update_where(
        s, t, {"v": F.col("v") + 100}, F.col("k") == 5
    ),
    "update_where_dv": lambda s, t: wr.update_where_dv(
        s, t, {"v": F.col("v") + 100}, F.col("k") == 6
    ),
    "delete_where_dv": lambda s, t: wr.delete_where_dv(s, t, F.col("k") == 7),
}


def _committed_rows(spark, path):
    df = wr.read_committed(spark, path)
    return sorted(tuple(r) for r in df.collect()) if df is not None else []


@pytest.mark.parametrize("name", sorted(WRITERS))
def test_writer_survives_lost_commit_race(spark, tmp_path, monkeypatch, base_table, name):
    calm, raced = str(tmp_path / "calm"), str(tmp_path / "raced")
    shutil.copytree(base_table, calm)
    shutil.copytree(base_table, raced)
    head = wr._committed_version(base_table)
    expected = WRITERS[name](spark, calm)
    assert wr._committed_version(calm) == head + 1

    publish = wr._try_commit
    lost = []

    def lose_first(*args, **kwargs):
        if not lost:
            lost.append(True)
            return False
        return publish(*args, **kwargs)

    monkeypatch.setattr(wr, "_try_commit", lose_first)
    got = WRITERS[name](spark, raced)
    monkeypatch.undo()

    assert lost, "the writer never reached the publish step"
    assert got == expected
    assert wr._committed_version(raced) == head + 1
    # The base already holds files that history removed; the lost
    # attempt's staged files must not add to them.
    assert sorted(wr.vacuum_orphans(raced)) == sorted(wr.vacuum_orphans(calm))
    assert _committed_rows(spark, raced) == _committed_rows(spark, calm)


def test_torn_manifest_write_leaves_table_readable(spark, tmp_path, monkeypatch):
    """A writer that dies while writing the manifest body must not
    publish a partial manifest: readers stay at the previous version
    and the next writer commits the version the dead one was after."""
    target = str(tmp_path / "t")
    wr.merge_append(spark, target, _rows(spark, 0, 5), ["k"])
    head = wr._committed_version(target)

    def torn_dump(obj, fh, **kwargs):
        fh.write(json.dumps(obj)[:20])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        wr.merge_append(spark, target, _rows(spark, 5, 10), ["k"])
    monkeypatch.undo()

    assert wr._committed_version(target) == head
    assert wr.read_committed(spark, target).count() == 5
    assert wr.merge_append(spark, target, _rows(spark, 5, 10), ["k"]) == 5
    assert wr._committed_version(target) == head + 1
    assert wr.read_committed(spark, target).count() == 10


def test_snapshot_file_view_keeps_order_and_checks_removes():
    """The live-file view keeps log order (files added later come
    later, a re-added file moves to the end), and removing a file that
    is not live raises — the log is corrupt."""
    commits = [
        {"version": 1, "add": ["a", "b", "c"]},
        {"version": 2, "add": ["d"], "remove": ["b"]},
        {"version": 3, "add": ["b"], "remove": ["a"]},
    ]
    snap = wr.Snapshot("t", commits=commits)
    assert snap.files == ["c", "d", "b"]
    assert snap.as_of(2).files == ["a", "c", "d"]
    corrupt = [*commits, {"version": 4, "add": [], "remove": ["a"]}]
    with pytest.raises(KeyError):
        wr.Snapshot("t", commits=corrupt).files


# ---------------------------------------------------------------------------
# The log is the only source of table state: a parquet file in the table
# directory is part of the table only if a commit lists it.
# ---------------------------------------------------------------------------
def _keys(spark, path):
    df = wr.read_committed(spark, path)
    return sorted(r.k for r in df.collect()) if df is not None else []


@pytest.mark.parametrize("writer", ["merge_append", "merge_upsert"])
def test_emptied_table_does_not_resurrect_removed_files(spark, tmp_path, writer):
    """After a delete removes every live file, the next merge sees an
    empty table — the removed files still on disk are not rows."""
    target = str(tmp_path / "t")
    wr.merge_append(spark, target, _rows(spark, 1, 3), ["k"])
    assert wr.delete_where(spark, target, F.col("k") > 0) == 2
    assert wr.committed_files(target) == []
    got = getattr(wr, writer)(spark, target, _rows(spark, 3, 4), ["k"])
    assert got == (1 if writer == "merge_append" else (1, 0))
    assert _keys(spark, target) == [3]


def test_crashed_first_writer_leaves_no_rows(spark, tmp_path):
    """A first writer that dies between stage and publish leaves staged
    files in a table with no log; the next writer must not adopt them."""
    target = str(tmp_path / "t")

    def die():
        raise RuntimeError("killed before publish")

    with pytest.raises(RuntimeError, match="killed before publish"):
        wr.merge_append(spark, target, _rows(spark, 9, 10), ["k"], _pre_commit_hook=die)
    assert wr.merge_append(spark, target, _rows(spark, 1, 2), ["k"]) == 1
    assert _keys(spark, target) == [1]
    assert wr.vacuum_orphans(target)  # the dead writer's staged part


def test_plain_parquet_in_target_is_not_table_state(spark, tmp_path):
    """A plain parquet file already in the target directory is neither
    read nor committed by a merge; vacuum_orphans reclaims it."""
    target = str(tmp_path / "t")
    _rows(spark, 1, 2).coalesce(1).write.parquet(target)
    (plain,) = [f for f in os.listdir(target) if f.endswith(".parquet")]
    assert wr.merge_append(spark, target, _rows(spark, 1, 3), ["k"]) == 2
    assert _keys(spark, target) == [1, 2]
    assert plain not in wr.committed_files(target)
    assert wr.vacuum_orphans(target) == [plain]


@pytest.mark.parametrize("writer", ["delete_where", "delete_where_dv"])
def test_delete_keeps_rows_whose_condition_is_null(spark, tmp_path, writer):
    """DELETE removes only rows where the condition is TRUE: a row whose
    condition is NULL survives, in one file with rows that do match."""
    target = str(tmp_path / "t")
    seed = spark.createDataFrame([(1, None), (2, 5), (3, 1)], "k long, v long")
    wr.merge_append(spark, target, seed.coalesce(1), ["k"])
    assert len(wr.committed_files(target)) == 1
    assert getattr(wr, writer)(spark, target, F.col("v") > 3) == 1
    got = {r.k: r.v for r in wr.read_committed(spark, target).collect()}
    assert got == {1: None, 3: 1}
