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
import time

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


def _backdate(target, *rels):
    """Age table files past the orphan sweep's in-flight bound."""
    stale = time.time() - 2 * wr._STALE_S
    for rel in rels:
        os.utime(os.path.join(target, rel), (stale, stale))


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
    # attempt's staged files must not add to them. Every file is aged
    # past the sweep's in-flight bound, so a leaked stage is swept too.
    for t in (calm, raced):
        _backdate(t, *wr._table_files(t))
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
    assert wr.vacuum_orphans(target) == []  # not yet stale: could be in flight
    _backdate(target, *set(wr._table_files(target)) - set(wr.committed_files(target)))
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
    _backdate(target, plain)
    assert wr.vacuum_orphans(target) == [plain]


# ---------------------------------------------------------------------------
# One reference rule: the files a version needs, for the sweeps, restore
# and clone.
# ---------------------------------------------------------------------------
def test_orphan_sweep_spares_a_live_writers_stage(spark, tmp_path):
    """vacuum_orphans run between a writer's stage and publish must not
    delete the staged part the writer is about to commit."""
    target = str(tmp_path / "t")
    wr.merge_append(spark, target, _rows(spark, 1, 2), ["k"])
    swept = []

    def sweep():
        swept.extend(wr.vacuum_orphans(target))

    assert wr.merge_append(spark, target, _rows(spark, 2, 3), ["k"], _pre_commit_hook=sweep) == 1
    assert swept == []
    assert _keys(spark, target) == [1, 2]


def test_clone_of_vacuumed_version_links_nothing(spark, tmp_path):
    """A clone of a version whose files were reclaimed fails before it
    creates or links anything, so the destination stays usable."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    wr.merge_append(spark, src, _rows(spark, 1, 2), ["k"])
    wr.merge_append(spark, src, _rows(spark, 2, 3), ["k"])
    assert wr.delete_where(spark, src, F.col("k") == 2) == 1
    assert wr.vacuum_orphans(src)
    with pytest.raises(FileNotFoundError, match="retention"):
        wr.clone_table(src, dst, version=2)
    assert not (os.path.isdir(dst) and os.listdir(dst))
    wr.clone_table(src, dst)
    assert _keys(spark, dst) == [1]


def test_vacuum_keeps_kill_lists_a_restore_brought_back(spark, tmp_path):
    """A RESTORE to a deletion-vector-masked version resets the kill
    lists; vacuum and the orphan sweep must keep them, or the masked
    rows come back."""
    target = str(tmp_path / "t")
    wr.merge_append(spark, target, _rows(spark, 0, 10).coalesce(1), ["k"])
    wr.merge_append(spark, target, _rows(spark, 10, 20).coalesce(1), ["k"])
    assert wr.delete_where_dv(spark, target, F.col("k") < 5) == 5
    masked = wr._committed_version(target)
    kill_lists = {d for dvs in wr.Snapshot(target).dv.values() for d in dvs}
    assert kill_lists
    assert wr.compact(spark, target) == 2
    wr.restore(spark, target, version=masked)
    wr.vacuum(target, retain_versions=0, unsafe_zero_retention=True)
    _backdate(target, *wr._table_files(target))  # a leaked stage is swept too
    assert wr.vacuum_orphans(target) == []
    assert all(os.path.exists(os.path.join(target, d)) for d in kill_lists)
    assert _keys(spark, target) == list(range(5, 20))


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


# ---------------------------------------------------------------------------
# One staging step: no empty data file is committed, and a rewrite keeps
# the table's partition layout.
# ---------------------------------------------------------------------------
def test_empty_append_txn_commits_only_its_marker(spark, tmp_path):
    """An empty transactional append records its txn marker and adds no
    data file; its replay is a no-op."""
    target = str(tmp_path / "t")
    assert wr.append_txn(spark, target, _rows(spark, 0, 0), "app", 0) == 0
    (c,) = wr._commits(target)
    assert c["add"] == [] and c["txn"] == {"app": "app", "version": 0}
    assert wr.append_txn(spark, target, _rows(spark, 0, 0), "app", 0) == 0
    assert wr._committed_version(target) == 1


def test_compact_of_fully_masked_table_leaves_no_file(spark, tmp_path):
    """Compacting a table whose rows are all masked by deletion vectors
    removes its files and adds none."""
    target = str(tmp_path / "t")
    wr.merge_append(spark, target, _rows(spark, 0, 3).coalesce(1), ["k"])
    wr.merge_append(spark, target, _rows(spark, 3, 6).coalesce(1), ["k"])
    assert wr.delete_where_dv(spark, target, F.col("k") >= 0) == 6
    assert wr.compact(spark, target) == 2
    assert wr.committed_files(target) == []
    assert wr.read_committed(spark, target) is None


def _grp_rows(spark, ks, v=None):
    df = spark.createDataFrame([(k,) for k in ks], "k long")
    return df.select(
        "k",
        (F.col("k") if v is None else F.lit(v).cast("long")).alias("v"),
        (F.col("k") % 2).alias("grp"),
    )


LAYOUT_WRITERS = {
    "delete_where": (
        lambda s, t: wr.delete_where(s, t, F.col("k") == 0),
        {0: None},
    ),
    "update_where": (
        lambda s, t: wr.update_where(s, t, {"v": F.col("v") + 100}, F.col("k") == 2),
        {2: 102},
    ),
    "overwrite_where": (
        lambda s, t: wr.overwrite_where(s, t, _grp_rows(s, [4], 44), F.col("k") == 4),
        {4: 44},
    ),
    "merge_upsert": (
        lambda s, t: wr.merge_upsert(
            s, t, _grp_rows(s, [5], 55).unionByName(_grp_rows(s, [6])), ["k"]
        ),
        {5: 55, 6: 6},
    ),
    "compact": (lambda s, t: wr.compact(s, t), {}),
}


@pytest.mark.parametrize("name", sorted(LAYOUT_WRITERS))
def test_rewrite_keeps_partition_layout(spark, tmp_path, name):
    """On a table partitioned by ``grp``, every writer stages under
    ``grp=<v>/`` and each file holds only its partition's rows."""
    import pyarrow.parquet as pq

    target = str(tmp_path / "t")
    for ks in ([0, 1, 2], [3, 4, 5]):
        wr.merge_append(spark, target, _grp_rows(spark, ks), ["k"], partition_cols=["grp"])
    write, changes = LAYOUT_WRITERS[name]
    write(spark, target)
    want = {k: k for k in range(6)}
    want.update(changes)
    want = {k: (v, k % 2) for k, v in want.items() if v is not None}
    got = {r.k: (r.v, r.grp) for r in wr.read_committed(spark, target).collect()}
    assert got == want
    for f in wr.committed_files(target):
        part, _ = f.split("/")
        key, value = part.split("=")
        ks = pq.read_table(os.path.join(target, f), columns=["k"]).column(0).to_pylist()
        assert key == "grp" and ks and all(k % 2 == int(value) for k in ks), f


# ---------------------------------------------------------------------------
# One metadata pass at stage time: the build records every file's rows,
# size and filters, publication reads no data file, and no empty
# change-data or kill-list file is committed.
# ---------------------------------------------------------------------------
def test_publish_reads_no_data_file(spark, tmp_path, monkeypatch):
    """Between stage and publish, opening, statting or reading a data
    file fails; every commit still lands with ``sizes`` for each added
    and change-data file and a bloom filter for each added file."""
    import pyarrow.parquet as pq

    def forbid_data_io():
        def touched(*args, **kwargs):
            raise AssertionError(f"publish touched a data file: {args}")

        monkeypatch.setattr(pq, "ParquetFile", touched)
        monkeypatch.setattr(pq, "read_metadata", touched)
        monkeypatch.setattr(os.path, "getsize", touched)

    target = str(tmp_path / "t")
    wr.merge_append(spark, target, _rows(spark, 0, 10), ["k"])
    wr.set_bloom_columns(target, ["k"])
    writers = [
        lambda hook: wr.merge_append(
            spark, target, _rows(spark, 10, 20), ["k"], _pre_commit_hook=hook
        ),
        lambda hook: wr.merge_upsert(
            spark, target, _rows(spark, 15, 25).withColumn("v", F.col("v") + 1), ["k"],
            _pre_commit_hook=hook,
        ),
        lambda hook: wr.delete_where_dv(spark, target, F.col("k") == 3, _pre_commit_hook=hook),
    ]
    for write in writers:
        head = wr._committed_version(target)
        write(forbid_data_io)
        monkeypatch.undo()
        c = wr._commits(target)[-1]
        assert c["version"] == head + 1
        assert c["add"] or c["cdc"]
        assert sorted(c["sizes"]) == sorted([*c["add"], *c.get("cdc", [])])
        assert sorted(c.get("bloom", {})) == sorted(c["add"])
        assert all("k" in c["bloom"][f] for f in c["add"])


def test_restore_commits_no_empty_change_data_file(spark, tmp_path):
    """A RESTORE whose file diff holds no visible row — it drops a file
    whose rows are all masked — commits no 0-row change-data file, and
    the change feed holds no row for it."""
    import pyarrow.parquet as pq

    target = str(tmp_path / "t")
    wr.merge_append(spark, target, _rows(spark, 1, 3), ["k"])
    assert wr.delete_where_dv(spark, target, F.col("k") < 3) == 2
    wr.merge_append(spark, target, _rows(spark, 5, 6), ["k"])
    assert wr.delete_where_dv(spark, target, F.col("k") == 5) == 1
    assert wr.restore(spark, target, version=2) == (0, 1)
    c = wr._commits(target)[-1]
    assert c["version"] == 5
    for rel in wr._refs(c):
        assert pq.read_metadata(os.path.join(target, rel)).num_rows > 0, rel
    feed = wr.table_changes(spark, target, 4)
    assert feed is None or feed.count() == 0
    view_v2 = wr.read_committed(spark, target, version=2)
    assert _committed_rows(spark, target) == (
        sorted(tuple(r) for r in view_v2.collect()) if view_v2 is not None else []
    )


def test_restore_of_masked_files_adds_no_feed_rows(spark, tmp_path):
    """A RESTORE that re-adds a file whose rows were all masked at the
    target version changes no visible row: it stages no change data,
    and the feed does not read the re-added file as inserts."""
    target = str(tmp_path / "t")
    wr.merge_append(spark, target, _rows(spark, 1, 2), ["k"])
    assert wr.delete_where_dv(spark, target, F.col("k") == 1) == 1
    assert wr.compact(spark, target, min_files=1) == 1
    assert wr.restore(spark, target, version=2) == (1, 0)
    c = wr._commits(target)[-1]
    assert c["add"] and c["n"] == 0
    feed = wr.table_changes(spark, target, 3)
    assert feed is None or feed.count() == 0
    assert _committed_rows(spark, target) == []


# ---------------------------------------------------------------------------
# The transaction ledger lives in the commit loop, and every call parses
# each table's log once per attempt.
# ---------------------------------------------------------------------------
def _changes(spark, lo, hi):
    return _rows(spark, lo, hi).withColumn("_change_type", F.lit("insert"))


@pytest.fixture(scope="module")
def ledger_table(spark, tmp_path_factory):
    """A txn merge of keys 0-4 as ("repl", 0), then a plain merge of 5-9;
    returns the path and the first commit's timestamp."""
    path = str(tmp_path_factory.mktemp("ledger") / "base")
    assert wr.merge_cdc_txn(spark, path, _changes(spark, 0, 5), ["k"], "repl", 0) == (5, 0, 0)
    wr.merge_append(spark, path, _rows(spark, 5, 10), ["k"])
    return path, wr._commits(path)[0]["ts"]


PARSE_CASES = {
    "merge_cdc_txn": lambda s, t, ts: wr.merge_cdc_txn(s, t, _changes(s, 3, 12), ["k"], "repl", 1),
    "merge_cdc_txn_replay": lambda s, t, ts: wr.merge_cdc_txn(s, t, _changes(s, 3, 12), ["k"], "repl", 0),
    "read_committed": lambda s, t, ts: wr.read_committed(s, t, timestamp_ms=ts),
    "restore": lambda s, t, ts: wr.restore(s, t, timestamp_ms=ts),
    "vacuum": lambda s, t, ts: wr.vacuum(t, retain_ms=1),
    "clone_table": lambda s, t, ts: wr.clone_table(t, f"{t}-clone", timestamp_ms=ts),
}


@pytest.mark.parametrize("name", sorted(PARSE_CASES))
def test_one_log_parse_per_table_per_attempt(spark, tmp_path, monkeypatch, ledger_table, name):
    """A txn merge (fresh or replayed) and timestamp travel parse each
    table's log once: the ledger check and the timestamp resolve on the
    attempt's own snapshot. A clone parses its source and its
    destination once each."""
    base, ts = ledger_table
    target = str(tmp_path / "t")
    shutil.copytree(base, target)
    parse, parses = wr._commits, {}

    def counted(path, *args, **kwargs):
        parses[path] = parses.get(path, 0) + 1
        return parse(path, *args, **kwargs)

    monkeypatch.setattr(wr, "_commits", counted)
    PARSE_CASES[name](spark, target, ts)
    monkeypatch.undo()
    tables = [target, f"{target}-clone"] if name == "clone_table" else [target]
    assert parses == dict.fromkeys(tables, 1)


def test_replayed_merge_cdc_txn_executes_its_batch_zero_times(spark, tmp_path):
    """A replayed (app, version) ends at the ledger before the batch is
    pinned: a batch whose evaluation raises is never evaluated, the
    replay returns (0, 0, 0) and the committed version does not move."""
    target = str(tmp_path / "t")
    assert wr.merge_cdc_txn(spark, target, _changes(spark, 0, 5), ["k"], "repl", 0) == (5, 0, 0)
    head = wr._committed_version(target)

    @F.udf("long")
    def boom(k):
        raise RuntimeError("the replayed batch was evaluated")

    replay = _changes(spark, 0, 5).withColumn("v", boom("k"))
    with pytest.raises(Exception, match="the replayed batch was evaluated"):
        replay.collect()
    assert wr.merge_cdc_txn(spark, target, replay, ["k"], "repl", 0) == (0, 0, 0)
    assert wr._committed_version(target) == head
