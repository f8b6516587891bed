"""Sinks (SURVEY.md §2.2 K1–K6): partitioned columnar writes and
idempotent merge-append writers.

Reference semantics re-expressed Spark-first:
  * K1 — pandas→parquet→S3 under ``ingestion_date=YYYY-MM-DD``
    (data_pipeline/tasks/load_to_s3.py:16-27) becomes
    ``write.partitionBy("ingestion_date").parquet(path)``: one commit,
    no BytesIO hop, partition pruning on read for free.
  * K3/K4 — the Postgres insert-with-anti-join-dedup workers
    (loading.py:150-193, 213-314) become ``merge_append``: left-anti on
    the natural key vs the target, then append. Re-running a batch
    inserts 0 rows — the reference's core invariant (loading.py:150-161).
  * K5 — stock-bar insert with broadcast ticker→company_id resolve and
    skip-unknown (loading.py:93-125, 327-355) becomes ``upsert_bars``.
  * K6 — TimescaleDB hypertable DDL (migration.py:30-36) becomes a
    date-partitioned table layout (``bar_date`` partition column).

On a platform with Delta/Iceberg these writers are ``MERGE INTO``:
``merge_append`` = WHEN NOT MATCHED INSERT, ``merge_upsert`` = WHEN
MATCHED UPDATE + WHEN NOT MATCHED INSERT, ``delete_where`` = DELETE
WHERE — all atomic under concurrent writers, all emitting the typed
change-data feed (``table_changes``). Delta is not installable here,
so the writers carry their own minimal optimistic-concurrency commit
log (the same protocol Delta's transaction log uses):

  * data files are uniquely-named parquet parts in the table root, or
    under its Hive partition directories. :func:`read_committed` is the
    table's view; a plain ``spark.read.parquet(path)`` is not: it also
    reads the files a later commit removed (until a vacuum reclaims
    them) and the rows that deletion vectors mask;
  * every writing path stages its data, change-data and kill-list
    files through :func:`_stage_files`, which keeps three rules: a
    rewrite stages under the table's layout — the partition keys in
    the path of the newest live file (:attr:`Snapshot.partition_cols`),
    which ``merge_append(partition_cols=)`` declares or changes; no
    empty data, change-data or kill-list file is ever committed; and
    the build records every file's metadata (rows, size, zone map,
    bloom filters) in one open of the file, so publication only
    serializes, fsyncs and links;
  * ``_txlog/<version>.json`` manifests record each commit's files;
    the underscore prefix hides the log from Spark's file index;
  * a file is part of the table only if the log lists it: every
    writer and reader takes the table's state from the log alone, and
    any other parquet file in the directory is a leftover;
  * every writer commits through one loop, :func:`_transact`: each
    attempt parses the log once into a :class:`Snapshot`, lets the
    writer stage its files and name its manifest actions against that
    snapshot, and publishes version ``snapshot.version + 1``. Every
    call parses each table's log once per attempt (a reader once per
    call): timestamp travel resolves on that same parse
    (:meth:`Snapshot.version_as_of`);
  * the ``(app, version)`` transaction ledger (Delta's
    ``txnAppId``/``txnVersion``) is checked and stamped only by that
    loop: an attempt whose snapshot already holds the transaction ends
    the call before the writer builds anything, and a committing
    attempt records the marker — no writer's build reads or writes it;
  * publication (:func:`_try_commit`) writes the manifest to a temp
    file in ``_txlog/``, fsyncs it, and ``os.link``s it to the version
    name. The link fails if the name exists — put-if-absent, atomic on
    POSIX (on S3 the same shape is a conditional PUT with
    If-None-Match) — so exactly one writer wins a version, and neither
    a reader nor a crash ever sees a partial manifest;
  * the loser deletes its staged files and retries against a fresh
    snapshot (which now contains the winner's rows), so two concurrent
    mergers cannot both insert the same key.

Crash between stage and commit can orphan data files that plain
readers would see (exactly Delta's un-vacuumed-file situation);
``read_committed`` gives the strict committed-only view. Which files
the log still needs follows one reference rule: a commit references
its added data files, its change-data files and the kill lists its
deletion-vector entry adds or resets to (:func:`_refs`); a retention
window keeps what is live at its cutoff plus everything a later commit
references (:meth:`Snapshot.retained`). ``vacuum`` reclaims the
referenced files the window no longer keeps, and ``restore`` and
``clone_table`` refuse a version whose files are gone. ``vacuum_orphans``
keeps the live data files and every committed change-data and
kill-list file; it reclaims a removed data file at once, but a file no
commit references only once it is older than ``_STALE_S`` (an hour),
so it never deletes the new part an in-flight writer has staged. A
``restore`` or ``clone_table`` of an older version is not covered: the
files it re-adds or links are ones a commit removed, which the sweep
reclaims at once, whatever their age.

Scale: the anti-join shuffles on the high-cardinality natural key; the
target side is pruned to key columns only, so the "read the whole
target" cost is a key-column scan.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from collections import Counter
from collections.abc import Callable, Iterable, Sequence
from concurrent.futures import ThreadPoolExecutor
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stonkwhisperer_spark.operators.joins import broadcast_enrich, new_rows_anti


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("ingestion_date",),
    mode: str = "append",
) -> None:
    """K1: partitioned parquet write; adds ``ingestion_date`` =
    current_date() when absent (reference load_to_s3.py:20-27 layout).
    Sized for scale: callers repartition on the partition columns first
    if many small files per partition would result."""
    for c in partition_cols:
        if c == "ingestion_date" and c not in df.columns:
            df = df.withColumn(c, F.current_date())
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


# ---------------------------------------------------------------------------
# Transaction log: optimistic-concurrency commits on plain parquet.
# ---------------------------------------------------------------------------
_TXLOG_DIR = "_txlog"
_CDC_DIR = "_change_data"
_DV_DIR = "_deletion_vectors"
_CHANGE_COL = "_change_type"
# Hidden lineage columns threaded through snapshot reads so deletion
# vectors can anti-join on (file, row index). Dropped before any frame
# is returned to a caller.
_FP_COL = "__sw_file_path"
_RI_COL = "__sw_row_index"
# A kill list's rows: the masked data file (table-relative) and the
# row's index in it. Read with this schema, a masked read infers none.
_KILL_SCHEMA = "file string, row_index long"
# Transient marker columns for the merge engine's single-pass row
# classification (never written: dropped before staging).
_MARK_M = "__sw_mark_matched"
_MARK_MB = "__sw_mark_in_batch"
_MARK_MD = "__sw_mark_del"
# Seconds after which a file that no commit references is a dead
# writer's leftover, not an in-flight stage or publish: the sweeps
# (vacuum_log's manifest temps, vacuum_orphans' parts) spare it until
# then.
_STALE_S = 3600


def _txlog_path(target_path: str) -> str:
    return os.path.join(target_path, _TXLOG_DIR)


def _table_files(target_path: str) -> list[str]:
    """Relative paths of every parquet file the log could reference:
    the data files under the table root, skipping underscore/dot-hidden
    entries (the same rule Spark's file index applies), plus the
    change-data and deletion-vector files — one os.walk, no Spark job."""
    out: list[str] = []
    for dirpath, dirnames, filenames in os.walk(target_path):
        dirnames[:] = [
            d
            for d in dirnames
            if not d.startswith(("_", "."))
            or (dirpath == target_path and d in (_CDC_DIR, _DV_DIR))
        ]
        for fn in filenames:
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                out.append(os.path.relpath(os.path.join(dirpath, fn), target_path))
    return out


def _last_checkpoint_version(log: str) -> int:
    """The version of the newest log checkpoint, 0 when none exists
    (the ``_last_checkpoint`` pointer file, Delta's exact mechanism)."""
    lc = os.path.join(log, "_last_checkpoint")
    if not os.path.exists(lc):
        return 0
    with open(lc) as fh:
        return json.load(fh)["version"]


def _committed_version(target_path: str) -> int:
    log = _txlog_path(target_path)
    if not os.path.isdir(log):
        return 0
    versions = [
        int(f.split(".")[0])
        for f in os.listdir(log)
        if f.endswith(".json") and not f.startswith("_")
    ]
    return max(_last_checkpoint_version(log), max(versions, default=0))


# Manifest-key → feature-flag map: the features whose commits an
# OLDER/FOREIGN reader would silently MISREAD if it ignored the key
# (Delta's minReaderVersion/readerFeatures analog). Writers stamp
# ``"features": [...]`` on every commit using one; readers raise on a
# feature outside _FEATURES_SUPPORTED instead of misreading the table.
_FEATURE_OF_KEY = {
    "dv": "deletion-vectors",
    "rename": "column-mapping",
    "drop_col": "column-mapping",
    "generated_add": "generated-columns",
    "constraints_add": "check-constraints",
}
_FEATURES_SUPPORTED = frozenset(_FEATURE_OF_KEY.values())


def _check_features(c: dict, target_path: str) -> None:
    unknown = [
        f for f in c.get("features", []) if f not in _FEATURES_SUPPORTED
    ]
    if unknown:
        raise ValueError(
            f"table at {target_path} requires reader feature(s) "
            f"{unknown} (commit version {c.get('version')}) that this "
            f"reader does not support — supported: "
            f"{sorted(_FEATURES_SUPPORTED)}. Refusing to read rather "
            "than silently misread."
        )


def _commits(target_path: str, through_version: int | None = None) -> list[dict]:
    """Parsed commit manifests in version order, optionally truncated
    at ``through_version`` (inclusive) for time travel. Callers derive
    table state through :class:`Snapshot`, which parses once.

    With a log checkpoint (:func:`checkpoint`) present, the replay base
    comes from ONE checkpoint file and only the manifests AFTER it are
    opened — O(1 + tail) metadata reads instead of O(#commits), the
    read-amplification fix that keeps a long-lived table's every
    operation from reparsing thousands of tiny JSON files (Delta's
    ``_last_checkpoint`` design). Manifests at or below the checkpoint
    may have been reclaimed by :func:`vacuum_log`."""
    log = _txlog_path(target_path)
    if not os.path.isdir(log):
        return []
    out: list[dict] = []
    ckpt_version = _last_checkpoint_version(log)
    if ckpt_version:
        with open(
            os.path.join(log, f"_checkpoint.{ckpt_version:08d}.json")
        ) as fh:
            out = [
                c
                for c in json.load(fh)["commits"]
                if through_version is None or c["version"] <= through_version
            ]
    for manifest in sorted(os.listdir(log)):
        if not manifest.endswith(".json") or manifest.startswith("_"):
            continue
        version = int(manifest.split(".")[0])
        if version <= ckpt_version:
            continue  # already covered by the checkpoint base
        if through_version is not None and version > through_version:
            continue
        with open(os.path.join(log, manifest)) as fh:
            c = json.load(fh)
        c["version"] = version
        out.append(c)
    for c in out:  # checkpoint-sourced commits carry features too
        _check_features(c, target_path)
    return out


def checkpoint(target_path: str) -> int:
    """Write a log checkpoint: ONE file holding the parsed commit list
    through the current head, plus the ``_last_checkpoint`` pointer
    (both atomic via temp + rename). Subsequent log reads load the
    checkpoint and only the tail manifests; :func:`vacuum_log` may then
    reclaim the covered manifest files. Commit timestamps are baked in
    (pre-timestamp commits resolve their mtime fallback NOW, while the
    manifest still exists). Returns the checkpointed version.

    Concurrency: writers CAS manifests strictly after the head, so a
    checkpoint never races a commit; racing checkpointers both write
    valid files and the last pointer rename wins."""
    commits = _commits(target_path)
    if not commits:
        return 0
    for c in commits:
        c.setdefault("ts", _commit_ts(target_path, c))
    v = commits[-1]["version"]
    log = _txlog_path(target_path)
    body = os.path.join(log, f"_checkpoint.{v:08d}.json")
    tmp = body + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"version": v, "commits": commits}, fh, allow_nan=False)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, body)
    pointer = os.path.join(log, "_last_checkpoint")
    tmp = pointer + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"version": v}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, pointer)
    return v


def vacuum_log(target_path: str) -> list[str]:
    """Reclaim commit manifests covered by the newest checkpoint (their
    content lives in the checkpoint file). Older checkpoint files are
    reclaimed too, and so are stale temp files — a crashed publisher's
    or checkpointer's leftovers — whether or not a checkpoint exists.
    Returns the removed file names. The CAS version sequence is
    unaffected — new commits key on the head version, which the
    checkpoint pointer preserves."""
    log = _txlog_path(target_path)
    if not os.path.isdir(log):
        return []
    ckpt_version = _last_checkpoint_version(log)
    removed: list[str] = []
    for fn in os.listdir(log):
        path = os.path.join(log, fn)
        if ".tmp-" in fn:
            # Only when stale: an IN-FLIGHT publish or checkpoint must
            # keep its temp until its link or rename (and may unlink it
            # under us).
            with contextlib.suppress(FileNotFoundError):
                if time.time() - os.path.getmtime(path) > _STALE_S:
                    os.remove(path)
                    removed.append(fn)
        elif not ckpt_version:
            continue
        elif fn.endswith(".json") and not fn.startswith("_"):
            if int(fn.split(".")[0]) <= ckpt_version:
                os.remove(path)
                removed.append(fn)
        elif fn.startswith("_checkpoint.") and fn.endswith(".json"):
            if int(fn.split(".")[1]) < ckpt_version:
                os.remove(path)
                removed.append(fn)
    return sorted(removed)


def _refs(c: dict) -> list[str]:
    """Every file commit ``c`` references: its added data files, its
    change-data files, and the kill lists its deletion-vector entry adds
    or (RESTORE, CLONE) resets to. The vacuums keep or reclaim table
    files by this rule alone."""
    d = c.get("dv") or {}
    reset = [r for refs in d.get("reset", {}).values() for r in refs]
    return [*c["add"], *c.get("cdc", []), *d.get("add", []), *reset]


class Snapshot:
    """One parse of a table's log and the state derived from it. Every
    derived view is replayed from ``commits`` (add/remove applied in
    version order) at most once, on first use. Writers get a fresh
    snapshot per commit attempt (:func:`_transact`); readers build one
    per call. ``version`` truncates the parse for time travel;
    ``commits`` gives an already-parsed (or empty) log instead."""

    def __init__(
        self,
        path: str,
        version: int | None = None,
        commits: list[dict] | None = None,
    ):
        self.path = path
        self.commits = _commits(path, version) if commits is None else commits
        self.version = self.commits[-1]["version"] if self.commits else 0

    def as_of(self, version: int | None) -> Snapshot:
        """The snapshot at ``version`` (inclusive), from this parse."""
        if version is None:
            return self
        return Snapshot(
            self.path, commits=[c for c in self.commits if c["version"] <= version]
        )

    def readable_as_of(
        self, version: int | None, timestamp_ms: int | None = None
    ) -> Snapshot:
        """:meth:`as_of` ``version``, or the version :meth:`version_as_of`
        resolves ``timestamp_ms`` to (passing both raises, as in Delta),
        refusing a version below the vacuum horizon."""
        if timestamp_ms is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp_ms, not both")
            version = self.version_as_of(timestamp_ms)
        if version is not None:
            self.check_horizon(version, f"version {version}")
        return self.as_of(version)

    def check_horizon(self, version: int, what: str) -> None:
        """Refuse ``what`` — a read of ``version`` or of the commits
        after it — when ``version`` is below the vacuum retention
        horizon: its files may be reclaimed."""
        if version < self.vacuum_cutoff:
            raise ValueError(
                f"{what} reaches below the vacuum retention horizon "
                f"({self.vacuum_cutoff}) at {self.path} — its files may be "
                "reclaimed"
            )

    def check_present(self, rels: Sequence[str], what: str) -> None:
        """Refuse ``what`` when any of the table-relative files ``rels``
        is gone from disk — reclaimed by a vacuum that recorded no
        horizon below it (``vacuum_orphans``)."""
        missing = [r for r in rels if not os.path.exists(os.path.join(self.path, r))]
        if missing:
            raise FileNotFoundError(
                f"{what} needs vacuumed file(s) {missing[:3]}… at {self.path} "
                "— target version is beyond the retention window"
            )

    def kill_lists(self, files: Sequence[str]) -> list[str]:
        """The deletion-vector files that mask rows of the given live
        files, in first-seen order."""
        fset = set(files)
        return list(
            dict.fromkeys(d for f, dvs in self.dv.items() if f in fset for d in dvs)
        )

    def retained(self, cutoff: int) -> set[str]:
        """The files a retention window from version ``cutoff`` keeps:
        the data files and kill lists live at ``cutoff``, plus every file
        a later commit references (:func:`_refs`)."""
        at = self.as_of(cutoff)
        keep = {*at.files, *at.kill_lists(at.files)}
        for c in self.commits:
            if c["version"] > cutoff:
                keep.update(_refs(c))
        return keep

    def changes(
        self, after: int
    ) -> list[tuple[dict, bool, list[str], dict[str, list[str]]]]:
        """The change feed's files, per commit after version ``after``,
        as ``(commit, is_cdc, files, masks)``. A commit that wrote typed
        change-data files contributes them (carried-over rows of a
        rewrite are not changes); any other commit contributes its
        added files, every visible row an insert. ``masks`` maps each of
        those added files that the commit's own deletion-vector reset
        masks (CLONE of a table with deletion vectors) to its kill
        lists: the feed must drop those rows, as a read of that version
        does. Compaction commits change no rows and are skipped, as are
        commits that add nothing and RESTORE commits without change
        data (their re-added rows were all masked at the target
        version: no visible row changed)."""
        out = []
        for c in self.commits:
            if c["version"] <= after or c.get("compaction"):
                continue
            if c.get("cdc"):
                out.append((c, True, c["cdc"], {}))
            elif c["add"] and "restore" not in c:
                reset = (c.get("dv") or {}).get("reset", {})
                masks = {f: reset[f] for f in c["add"] if reset.get(f)}
                out.append((c, False, c["add"], masks))
        return out

    @cached_property
    def files(self) -> list[str]:
        """The live file view, in the order the files were added.
        Removing a file that is not live raises: the log is corrupt."""
        live: dict[str, None] = {}
        for c in self.commits:
            for rel in c.get("remove", []):
                del live[rel]
            live.update(dict.fromkeys(c["add"]))
        return list(live)

    def _per_file(self, key: str) -> dict:
        out: dict = {}
        for c in self.commits:
            for rel in c.get("remove", []):
                out.pop(rel, None)
            out.update(c.get(key, {}))
        return out

    @cached_property
    def stats(self) -> dict[str, dict]:
        """Zone maps of the live files: {rel_path: {col: [min, max]}}."""
        return self._per_file("stats")

    @cached_property
    def sizes(self) -> dict[str, int]:
        """File sizes recorded at write time (since r16): {rel_path:
        bytes} for the live files and for every committed change-data
        file. Files from older commits are absent — callers treat
        unknown as large (the safe direction for cost-of-recompute
        decisions)."""
        return self._per_file("sizes")

    @cached_property
    def blooms(self) -> dict[str, dict]:
        """Bloom filters of the live files: {rel_path: {col: spec}}."""
        return self._per_file("bloom")

    @cached_property
    def dv(self) -> dict[str, list[str]]:
        """Deletion-vector state: {data_rel_path: [dv_rel_paths that
        apply to it]} — the merge-on-read half of DELETE (Delta deletion
        vectors / Iceberg positional delete files). A data file's DV
        entries die with the file: any rewrite (compaction, copy-on-write
        merge/delete) reads the DV-filtered view and then ``remove``s
        the file, so the physical purge is automatic and the new files
        start DV-free. A ``reset`` entry (RESTORE) replaces the whole
        state with the target version's mapping."""
        state: dict[str, list[str]] = {}
        for c in self.commits:
            for rel in c.get("remove", []):
                state.pop(rel, None)
            d = c.get("dv")
            if d is not None:
                if "reset" in d:
                    state = {f: list(v) for f, v in d["reset"].items()}
                else:
                    for f in d["files"]:
                        entry = state.setdefault(f, [])
                        for dv_rel in d["add"]:
                            if dv_rel not in entry:
                                entry.append(dv_rel)
        return state

    @cached_property
    def colmap(self) -> dict[str, str]:
        """Column mapping: {logical_name: physical_name}. A ``rename``
        commit re-points a logical name at the column's ORIGINAL physical
        name (the one stored in every parquet footer), so RENAME COLUMN
        is a metadata-only commit — no data file is rewritten, the Delta
        column-mapping contract. Identity (unrenamed) columns are absent
        from the map. Renames chain: a→b then b→c leaves {c: a}."""
        m: dict[str, str] = {}
        for c in self.commits:
            r = c.get("rename")
            if r:
                m[r["to"]] = m.pop(r["from"], r["from"])
        return m

    @cached_property
    def dropped(self) -> set[str]:
        """PHYSICAL names of logically-dropped columns (``drop_column``):
        excluded from every logical view; the data files keep the bytes
        until rewrites shed them (Delta's mapping-based DROP COLUMN)."""
        return {c["drop_col"]["physical"] for c in self.commits if c.get("drop_col")}

    @cached_property
    def retired(self) -> set[str]:
        """Names no new column may take: retired physical names of
        renamed columns, plus both names of dropped columns — reusing any
        of them would silently alias historical file data."""
        out = {p for l, p in self.colmap.items() if p != l}
        for c in self.commits:
            d = c.get("drop_col")
            if d:
                out.update((d["physical"], d["logical"]))
        return out

    @cached_property
    def vacuum_cutoff(self) -> int:
        """The retention horizon: the highest vacuum cutoff ever
        committed. Snapshots and change feeds strictly BELOW it may
        reference physically-reclaimed files — readers refuse them
        loudly instead of failing mid-scan."""
        return max(
            (c["vacuum"]["cutoff"] for c in self.commits if c.get("vacuum")),
            default=0,
        )

    def _named(self, add_key: str, drop_key: str) -> dict[str, str]:
        out: dict[str, str] = {}
        for c in self.commits:
            for name in c.get(drop_key, []):
                out.pop(name, None)
            out.update(c.get(add_key, {}))
        return out

    @cached_property
    def constraints(self) -> dict[str, str]:
        """CHECK constraints in force: {name: sql_expr}."""
        return self._named("constraints_add", "constraints_drop")

    @cached_property
    def generated(self) -> dict[str, str]:
        """Generated-column definitions in force: {column: sql_expr}.
        Expressions are in LOGICAL column space."""
        return self._named("generated_add", "generated_drop")

    @cached_property
    def partition_cols(self) -> list[str]:
        """The table's layout: the Hive partition keys in the path of
        the newest live file, as PHYSICAL names, dropped columns
        excluded. Rewrites stage under it; ``merge_append``'s
        ``partition_cols`` declares or changes it. Empty for a flat or
        empty table."""
        if not self.files:
            return []
        return [k for k in _layout(self.files[-1]) if k not in self.dropped]

    @cached_property
    def bloom_cols(self) -> list[str] | None:
        """PHYSICAL names of the columns bloom-indexed at write time
        (last ``bloom_cols`` commit wins, Delta's CREATE BLOOMFILTER
        INDEX analog). None when no commit ever declared any, which a
        keyed writer may still do (:func:`_bloom_declaration`); ``[]``
        when the index was cleared."""
        cols = None
        for c in self.commits:
            if "bloom_cols" in c:
                cols = list(c["bloom_cols"])
        return cols

    @cached_property
    def schema(self):
        """Union of the commits' recorded writer schemas in version order
        (additive evolution; type conflict raises), in PHYSICAL names —
        None when no commit recorded one. See :func:`table_schema`."""
        from pyspark.sql.types import StructType

        return _union_structs(
            [
                StructType.fromJson(json.loads(c["schema"]))
                for c in self.commits
                if "schema" in c
            ]
        )

    @cached_property
    def logical_schema(self):
        """:attr:`schema` under the LOGICAL names, dropped columns
        excluded."""
        from pyspark.sql.types import StructField, StructType

        struct = self.schema
        if struct is None or (not self.colmap and not self.dropped):
            return struct
        p2l = {p: l for l, p in self.colmap.items()}
        return StructType(
            [
                StructField(p2l.get(f.name, f.name), f.dataType, f.nullable)
                for f in struct.fields
                if f.name not in self.dropped
            ]
        )

    def txn_version(self, app_id: str) -> int | None:
        """The highest transaction version committed for ``app_id``."""
        return max(
            (
                c["txn"]["version"]
                for c in self.commits
                if c.get("txn") and c["txn"].get("app") == app_id
            ),
            default=None,
        )

    def version_as_of(self, timestamp_ms: int) -> int:
        """Timestamp-based time travel (Delta's ``timestampAsOf``): the
        LATEST committed version whose commit timestamp is <= the given
        epoch-millis instant. Raises if the instant predates the first
        commit (Delta raises the same way — there is no table state to
        serve). Driver-side metadata over this parse, no data touched."""
        if not self.commits:
            raise ValueError(f"no commits at {self.path}")
        chosen: int | None = None
        for c in self.commits:
            if _commit_ts(self.path, c) <= timestamp_ms:
                chosen = c["version"]
        if chosen is None:
            first = _commit_ts(self.path, self.commits[0])
            raise ValueError(
                f"timestamp {timestamp_ms} predates the first commit ({first}) "
                f"at {self.path}"
            )
        return chosen


def _to_physical(df: DataFrame, snap: Snapshot) -> DataFrame:
    """Logical → physical column names (the on-disk space: data files,
    change files, commit schemas, zone maps). Raises on a column that
    collides with a RETIRED name (a renamed column's old physical name
    or a dropped column's either name) — re-introducing one would
    silently alias historical data."""
    colmap, retired = snap.colmap, snap.retired
    if not colmap and not retired:
        return df
    for c in df.columns:
        if c not in colmap and c in retired:
            raise ValueError(
                f"column '{c}' is the retired physical name of a renamed "
                "or dropped column — pick a different name"
            )
    return df.select(*[F.col(c).alias(colmap.get(c, c)) for c in df.columns])


def _relabel(df: DataFrame, src: Snapshot, dst: Snapshot) -> DataFrame:
    """Re-express a frame read under one snapshot's LOGICAL names in
    another snapshot's logical space — physical names are the stable
    bridge (the reason they exist). Columns logically dropped at the
    target snapshot are excluded; names outside the mapping (change
    tags, lineage) pass through. RESTORE needs this: its insert-side
    CDC reads under the TARGET version's names, its delete side under
    the head's, and the union/staging must agree on one space."""
    to_p2l = {p: l for l, p in dst.colmap.items()}
    cols = []
    for c in df.columns:
        p = src.colmap.get(c, c)
        if p in dst.dropped:
            continue
        cols.append(F.col(c).alias(to_p2l.get(p, p)))
    return df.select(*cols)


def _to_logical(df: DataFrame, snap: Snapshot) -> DataFrame:
    """Physical → logical column names (the reader/compute space);
    logically-dropped columns are excluded."""
    if not snap.colmap and not snap.dropped:
        return df
    p2l = {p: l for l, p in snap.colmap.items()}
    return df.select(
        *[
            F.col(c).alias(p2l.get(c, c))
            for c in df.columns
            if c not in snap.dropped
        ]
    )


# Safe type-widening lattice (Delta 3.2 type widening / Spark 4 parquet
# upcast support): a column re-declared at a WIDER type in the chain
# widens the table; narrow files upcast at the scan (verified: Spark 4's
# vectorized reader reads int32 under LongType and float under
# DoubleType). Keys are widenable-from, values the allowed wider types.
_WIDEN = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}


def _widest(a, b):
    """The wider of two Spark DataTypes under the widening lattice, or
    None when neither widens to the other."""
    an, bn = a.typeName(), b.typeName()
    if bn in _WIDEN.get(an, ()):  # a widens to b
        return b
    if an in _WIDEN.get(bn, ()):  # b widens to a
        return a
    return None


def _union_structs(structs):
    """Additive union of StructTypes in order; a field re-declared at a
    WIDER type in the widening lattice widens the union (int→long,
    float→double — old narrow files upcast at the scan); any other
    type conflict raises. None for an empty union. Every field is
    normalized to nullable=True: evolution implies null-fill (files
    written before a column existed surface NULLs for it), so a
    non-nullable first declaration would be a false contract over data
    that does contain nulls — Delta's union behaves the same way."""
    from pyspark.sql.types import StructField, StructType

    merged: dict[str, StructField] = {}
    for s in structs:
        for f in s.fields:
            prev = merged.get(f.name)
            if prev is None:
                merged[f.name] = StructField(f.name, f.dataType, True)
                continue
            if prev.dataType.json() == f.dataType.json():
                continue
            wide = _widest(prev.dataType, f.dataType)
            if wide is None:
                raise ValueError(
                    f"schema evolution type conflict on '{f.name}': "
                    f"{prev.dataType.json()} vs {f.dataType.json()}"
                )
            merged[f.name] = StructField(f.name, wide, True)
    return StructType(list(merged.values())) if merged else None


def _layout(rel: str) -> tuple[str, ...]:
    """The Hive partition keys encoded in a table-relative file path
    (``a=1/b=x/part.parquet`` → ``("a", "b")``)."""
    return tuple(
        seg.split("=", 1)[0]
        for seg in rel.split("/")[:-1]
        if "=" in seg and not seg.startswith((".", "_"))
    )


def _read_files(
    spark: SparkSession,
    target_path: str,
    files: Sequence[str],
    schema=None,
    lineage: bool = False,
) -> DataFrame:
    """Read a set of table-relative parquet files that may span
    DIFFERENT partition layouts (unpartitioned seed + partitioned later
    batches — Iceberg-style partition-spec evolution, which the txlog
    gets for free because manifests list FILES, not directories).

    Spark's file index cannot mix partition depths in one scan: given a
    root-level file alongside ``grp=y/`` files under the same basePath,
    it keys the whole scan on the discovered partition spec and
    SILENTLY DROPS the root-level rows (verified on Spark 4.1). So:
    group the files by the partition-key tuple encoded in their
    directory paths, scan each group separately (each group is
    internally consistent), and unionByName with allowMissingColumns —
    a layout's missing columns null-fill, or resolve from data columns
    where the writer stored them physically.

    One extra scan node per historical layout (bounded by the handful
    of partition-spec changes a table sees in its life), same total
    I/O.

    ``lineage=True`` threads the scan's hidden ``_metadata`` file-path
    and row-index through as :data:`_FP_COL`/:data:`_RI_COL` columns —
    selected INSIDE each group scan (the metadata struct resolves only
    on a file-source relation, not across a union). Deletion vectors
    and file-discovery joins key on them."""
    groups: dict[tuple, list[str]] = {}
    for f in files:
        groups.setdefault(_layout(f), []).append(f)
    parts: list[DataFrame] = []
    for fs in groups.values():
        reader = spark.read.option("basePath", target_path)
        if schema is not None:
            reader = reader.schema(schema)
        part = reader.parquet(*[os.path.join(target_path, f) for f in fs])
        if lineage:
            part = part.select(
                "*",
                F.col("_metadata.file_path").alias(_FP_COL),
                F.col("_metadata.row_index").alias(_RI_COL),
            )
        parts.append(part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _file_uri(target_path: str, rel: str) -> str:
    """Table-relative path → the EXACT URI string Spark's
    ``_metadata.file_path`` reports for that file (inverse of
    :func:`_uri_to_rel`). Spark renders java.net.URI path encoding:
    space/%/etc. are percent-escaped but the RFC-2396 path characters
    ``/;:@&=+$,`` and marks ``!~*'()-_.`` stay RAW — notably ``=`` in
    Hive partition directories (pathname2url would quote it, making
    every DV/discovery join key miss on partitioned tables)."""
    from urllib.parse import quote

    return "file:" + quote(
        os.path.join(os.path.abspath(target_path), rel),
        safe="/;:@&=+$,!~*'()-_.",
    )


def _drop_masked(
    spark: SparkSession,
    target_path: str,
    df: DataFrame,
    masks: dict[str, list[str]],
) -> DataFrame:
    """``df``, read with lineage (:func:`_read_files`), minus the rows
    that the kill lists in ``masks`` (``{data file: [kill lists]}``)
    mask in their data files."""
    uri_map = spark.createDataFrame(
        [(f, _file_uri(target_path, f)) for f in masks],
        "file string, file_uri string",
    )
    kill_lists = dict.fromkeys(d for dvs in masks.values() for d in dvs)
    kill = (
        spark.read.schema(_KILL_SCHEMA)
        .parquet(*[os.path.join(target_path, d) for d in kill_lists])
        .join(F.broadcast(uri_map), "file")
        .select(
            F.col("file_uri").alias(_FP_COL),
            F.col("row_index").alias(_RI_COL),
        )
    )
    return df.join(F.broadcast(kill), [_FP_COL, _RI_COL], "left_anti")


def _read_snapshot(
    spark: SparkSession,
    snap: Snapshot,
    files: Sequence[str],
    schema=None,
    keep_lineage: bool = False,
) -> DataFrame:
    """The committed ROW view: ``_read_files`` over the given files
    minus any rows masked by deletion vectors in force at this
    snapshot. This is the one read path every consumer — readers,
    CDC, merges, compaction — goes through, so merge-on-read deletes
    are invisible everywhere by construction.

    The DV anti-join is a BROADCAST against the kill list (bounded by
    deleted-row count, and only the files being read contribute), keyed
    on (file URI, row index) from the scan's ``_metadata`` struct — the
    scan itself stays whole-stage-codegen, and tables with no DVs pay
    nothing (the plain ``_read_files`` plan, no extra columns). At
    100 TB this is exactly Delta's deletion-vector read: a point DELETE
    costs O(deleted rows) at write time and a broadcast hash anti-join
    at read time, instead of rewriting terabytes of matched files.

    ``keep_lineage=True`` returns :data:`_FP_COL`/:data:`_RI_COL` for
    callers that need per-row file identity (touched-file discovery in
    the merge writers)."""
    target_path = snap.path
    masks = {f: snap.dv[f] for f in sorted(files) if snap.dv.get(f)}
    need_lineage = keep_lineage or bool(masks)
    dropped = snap.dropped
    if schema is not None and dropped:
        # Logically-dropped columns are pruned AT THE SCAN (explicit
        # read schema) — the bytes stay in old files but are never
        # read, Delta's mapping-based DROP COLUMN economics.
        from pyspark.sql.types import StructType

        schema = StructType(
            [f for f in schema.fields if f.name not in dropped]
        )
    df = _read_files(spark, target_path, files, schema=schema, lineage=need_lineage)
    if masks:
        df = _drop_masked(spark, target_path, df, masks)
    if need_lineage and not keep_lineage:
        df = df.drop(_FP_COL, _RI_COL)
    # Column mapping: files store physical names; every consumer sees
    # the logical view AS OF this snapshot's commits (so time travel
    # before a rename shows the old name — Delta's behavior).
    return _to_logical(df, snap)


def committed_files(target_path: str, version: int | None = None) -> list[str]:
    """The committed file view — adds minus removes applied in version
    order (excludes files staged by an in-flight or crashed writer).
    Pass ``version`` to time-travel to an earlier snapshot."""
    return Snapshot(target_path, version).files


def table_history(spark: SparkSession, target_path: str) -> DataFrame:
    """Delta ``DESCRIBE HISTORY t``: one row per commit with version,
    commit timestamp, operation name, and file/row accounting —
    replayed from the manifests alone (O(#commits) driver metadata, no
    data files opened). ``operation`` comes from the commit's recorded
    ``op`` tag; commits written before op-tagging are classified from
    their structural fields (compaction/restore/vacuum/constraint/txn
    markers), else reported as WRITE. ``num_rows`` is the manifest's
    staged-row count (inserted rows for appends, written rows for
    merges; 0 for metadata-only commits and for deletes, whose row
    counts live in the change feed)."""
    rows = []
    for c in _commits(target_path):
        op = c.get("op")
        if op is None:  # pre-op-tag commits: structural classification
            if c.get("compaction"):
                op = "OPTIMIZE"
            elif "restore" in c:
                op = "RESTORE"
            elif "vacuum" in c:
                op = "VACUUM"
            elif "constraints_add" in c:
                op = "ADD CONSTRAINT"
            elif "constraints_drop" in c:
                op = "DROP CONSTRAINT"
            elif "txn" in c:
                op = "STREAMING UPDATE"
            else:
                op = "WRITE"
        rows.append(
            (
                c["version"],
                _commit_ts(target_path, c),
                op,
                c.get("n", 0),
                len(c.get("add", [])),
                len(c.get("remove", [])),
                bool(c.get("cdc")),
            )
        )
    return spark.createDataFrame(
        rows,
        "version bigint, timestamp_ms bigint, operation string, "
        "num_rows bigint, num_added_files int, num_removed_files int, "
        "has_cdc boolean",
    )


def table_detail(target_path: str) -> dict:
    """Delta ``DESCRIBE DETAIL t``: one dict summarizing the table's
    current physical and logical state — replayed from the manifests
    alone (O(#commits-after-checkpoint) driver metadata plus stat calls
    for file sizes and kill-list column reads for the exact DV-masked
    row count; no data files opened)."""
    snap = Snapshot(target_path)
    files, sizes = snap.files, snap.sizes  # sizes log-recorded (r16); stat the rest
    size = 0
    for f in files:
        if f in sizes:
            size += sizes[f]
            continue
        try:
            size += os.path.getsize(os.path.join(target_path, f))
        except FileNotFoundError:
            pass
    # Exact masked-row count: live kill-list entries targeting live
    # files (bounded by accumulated deletes; rewritten files' stale
    # entries don't count).
    dv_files = snap.kill_lists(files)
    masked = _value_counts(target_path, dv_files, "file")
    return {
        "version": snap.version,
        "num_files": len(files),
        "size_bytes": size,
        "num_dv_files": len(dv_files),
        "num_dv_masked_rows": sum(masked[f] for f in files),
        "constraints": snap.constraints,
        "generated_columns": snap.generated,
        "bloom_columns": snap.bloom_cols or [],
        "renamed_columns": {l: p for l, p in snap.colmap.items() if l != p},
        "dropped_columns": sorted(snap.dropped),
        "vacuum_horizon": snap.vacuum_cutoff,
        "checkpoint_version": _last_checkpoint_version(_txlog_path(target_path)),
    }


def table_constraints(target_path: str) -> dict[str, str]:
    """The CHECK constraints currently in force on the table —
    {name: sql_expr}, replayed from the commit log."""
    return Snapshot(target_path).constraints


def add_constraint(
    spark: SparkSession,
    target_path: str,
    name: str,
    sql_expr: str,
) -> None:
    """Delta ``ALTER TABLE t ADD CONSTRAINT name CHECK (expr)``: record
    a CHECK constraint in the log that every subsequent write must
    satisfy (writers reject violating batches BEFORE staging — the
    invariant is enforced at the source of mutation, the only place it
    can be cheap). Like Delta, adding the constraint first validates
    the EXISTING table: if any committed row violates the expression,
    the constraint is refused — a table can never be in a state where
    its declared invariants are false.

    The constraint is a metadata-only commit (add=[], no data files);
    enforcement on a 100 TB table costs one codegen'd filter over each
    incoming BATCH, never a table scan (the one-time validation scan
    here is the same price Delta pays)."""

    def build(snap: Snapshot):
        if name in snap.constraints:
            raise ValueError(f"constraint '{name}' already exists at {target_path}")
        if snap.files:
            existing = _read_files(spark, target_path, snap.files, schema=snap.schema)
            bad = existing.filter(~F.expr(sql_expr)).limit(1).collect()
            if bad:
                raise ValueError(
                    f"cannot add constraint '{name}' CHECK ({sql_expr}): "
                    f"existing row violates it: {bad[0].asDict()}"
                )
        return None, [], {"constraints_add": {name: sql_expr}, "op": "ADD CONSTRAINT"}

    _transact(target_path, build, "add_constraint")


def drop_constraint(target_path: str, name: str) -> None:
    """``ALTER TABLE t DROP CONSTRAINT name`` — metadata-only commit."""

    def build(snap: Snapshot):
        if name not in snap.constraints:
            raise ValueError(f"no constraint '{name}' at {target_path}")
        return None, [], {"constraints_drop": [name], "op": "DROP CONSTRAINT"}

    _transact(target_path, build, "drop_constraint")


_BLOOM_K = 7  # double-hashed probe count
_BLOOM_MAX_ROWS = 200_000  # above this, skip (manifest-inline size cap)


def _bloom_key(value) -> str:
    """Canonical string form hashed into bloom filters — integral
    floats collapse to their integer form so a lookup with the Python
    int 17 finds rows a double column stored as 17.0 (a type-mismatch
    false NEGATIVE would wrongly prune a file that contains the value,
    breaking the pruning-is-never-a-correctness-device rule)."""
    if isinstance(value, bool):
        return f"bool:{value}"
    if isinstance(value, float) and value.is_integer():
        return str(int(value))
    return str(value)


def _bloom_hashes(value, m: int) -> list[int]:
    """k deterministic bit positions for a value: double hashing over
    the sha256 of the value's canonical string form (ints and strings
    encode identically across engines and sessions)."""
    import hashlib

    digest = hashlib.sha256(_bloom_key(value).encode("utf-8")).digest()
    h1 = int.from_bytes(digest[:8], "big")
    h2 = int.from_bytes(digest[8:16], "big") | 1
    return [(h1 + i * h2) % m for i in range(_BLOOM_K)]


def _bloom_build(pf, cols: Sequence[str]) -> dict[str, dict]:
    """One file's bloom filters on the indexed columns ``cols`` — one
    pyarrow read of those columns from the open ``ParquetFile`` ``pf``,
    O(staged batch) at write time. ~10 bits/row (fpp ≈ 1%), base64 in
    the manifest; a file larger than _BLOOM_MAX_ROWS rows, or holding
    none of ``cols``, gets no filter (it stays unprunable, never
    wrong). At production scale the bitsets would move to sidecar
    index files; the protocol is identical.

    The bits are exactly :func:`_bloom_hashes`' (old filters keep
    probing): one sha256 per distinct canonical value, then the double
    hashing for all of them at once in numpy ``uint64``. That wraps
    mod 2^64, and ``m`` is a power of two, so ``& (m - 1)`` gives the
    same positions as the unbounded ``% m``."""
    import base64
    import hashlib

    import numpy as np

    present = [c for c in cols if c in pf.schema_arrow.names]
    if not present or pf.metadata.num_rows > _BLOOM_MAX_ROWS:
        return {}
    n = max(pf.metadata.num_rows, 1)
    m = 1 << max(6, (10 * n - 1).bit_length())  # ≥10 bits/row, pow2
    probes = np.arange(_BLOOM_K, dtype=np.uint64)
    specs: dict[str, dict] = {}
    t = pf.read(columns=present)
    for col in present:
        keys = {_bloom_key(v) for v in t.column(col).to_pylist() if v is not None}
        if not keys:
            continue
        digests = b"".join(hashlib.sha256(k.encode("utf-8")).digest()[:16] for k in keys)
        h = np.frombuffer(digests, dtype=">u8").astype(np.uint64).reshape(-1, 2)
        h1, h2 = h[:, :1], h[:, 1:] | np.uint64(1)
        bits = np.zeros(m, dtype=bool)
        bits[((h1 + probes * h2) & np.uint64(m - 1)).ravel()] = True
        specs[col] = {
            "m": m,
            "k": _BLOOM_K,
            "b64": base64.b64encode(np.packbits(bits, bitorder="little").tobytes()).decode("ascii"),
        }
    return specs


def _bloom_admits(spec: dict, value) -> bool:
    import base64

    bits = base64.b64decode(spec["b64"])
    return all(
        bits[pos >> 3] & (1 << (pos & 7))
        for pos in _bloom_hashes(value, spec["m"])
    )


def set_bloom_columns(target_path: str, cols: Sequence[str]) -> None:
    """Databricks ``CREATE BLOOMFILTER INDEX`` analog: declare the
    columns every subsequent commit bloom-indexes per data file.
    Point lookups (:func:`read_committed_point`) then skip files whose
    filter excludes the value — the skipping zone maps cannot provide
    for high-cardinality UNSORTED columns (ids, hashes, urls), where
    every file's [min,max] spans everything. Existing files are not
    back-indexed (rewrites index them); metadata-only commit.

    The declaration overrides the one a single-key merge makes on an
    undeclared table (:func:`_bloom_declaration`); ``cols=[]`` clears
    the index for good — no writer re-declares it."""

    def build(snap: Snapshot):
        if not snap.commits:
            raise ValueError(f"no commits at {target_path}")
        bloom_cols = [snap.colmap.get(c, c) for c in cols]
        return None, [], {"bloom_cols": bloom_cols, "op": "SET BLOOM COLUMNS"}

    _transact(target_path, build, "set_bloom_columns")


def _bloom_declaration(snap: Snapshot, keys: Sequence[str]) -> list[str] | None:
    """The bloom columns a keyed writer declares: its key, as a
    PHYSICAL name, when the key is one column and no commit of the
    table ever declared bloom columns; else None. The declaring commit
    indexes its own staged files on the key, and from then on
    :attr:`Snapshot.bloom_cols` indexes every rewrite. A natural key
    (url, post id) is what point reads ask for, and with the index a
    read skips the files whose filter rules the value out instead of
    opening every file (:func:`read_committed_point`). A composite
    key stays with zone maps. A lost commit race rebuilds on the
    winner's snapshot, so racing first writers declare once."""
    if len(keys) != 1 or snap.bloom_cols is not None:
        return None
    return [snap.colmap.get(keys[0], keys[0])]


def _no_rows(spark: SparkSession, snap: Snapshot) -> DataFrame:
    """The committed view's columns (partition columns too) with no
    rows, for a pruned read that keeps no file: one file's frame under
    ``F.lit(False)``, which the optimizer folds to an empty local
    relation, so no Spark job runs on it. (An empty
    ``createDataFrame`` starts a Python-worker job when collected.)"""
    return _read_snapshot(spark, snap, snap.files[:1], schema=snap.schema).filter(F.lit(False))


def read_committed_point(
    spark: SparkSession,
    target_path: str,
    col: str,
    value,
    version: int | None = None,
) -> tuple[DataFrame | None, int, int]:
    """Bloom-pruned point lookup: the committed view restricted to
    ``col = value``, opening ONLY the files whose bloom filter admits
    the value (files without a filter are kept — pruning is never a
    correctness device; ≈1% of non-matching filtered files false-
    positive through). Returns (frame, files_read, files_total).

    This is the needle-in-100-TB read: on a high-cardinality unsorted
    column (user id, url hash) zone maps keep every file, a bloom
    index keeps ~the files that really contain the key — the
    difference between a full scan and a handful of tasks for GDPR
    lookups and debugging reads. Driver-side decision on manifest
    metadata, before any task is scheduled; the residual equality
    filter still applies row-level. When no filter admits the value
    the frame has no rows and no job runs (:func:`_no_rows`)."""
    snap = Snapshot(target_path).readable_as_of(version)
    files = snap.files
    if not files:
        return None, 0, 0
    pcol = snap.colmap.get(col, col)
    blooms = snap.blooms
    kept = [
        f
        for f in files
        if pcol not in blooms.get(f, {})
        or _bloom_admits(blooms[f][pcol], value)
    ]
    if not kept:
        return _no_rows(spark, snap), 0, len(files)
    df = _read_snapshot(spark, snap, kept, schema=snap.schema).filter(
        F.col(col) == F.lit(value)
    )
    return df, len(kept), len(files)


def _apply_generated(batch: DataFrame, snap: Snapshot) -> DataFrame:
    """Delta generated-column write semantics: a batch MISSING the
    column gets it computed from the expression; a batch PROVIDING it
    must match the expression exactly (null-safe) or the write is
    rejected — otherwise the column silently stops being derivable and
    every consumer relying on the invariant (partition pruning on a
    derived date, most importantly) breaks."""
    for name, expr in snap.generated.items():
        if name in batch.columns:
            bad = (
                batch.filter(~F.col(name).eqNullSafe(F.expr(expr)))
                .limit(1)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"generated column '{name}' ({expr}) mismatch at "
                    f"{snap.path}: row {bad[0].asDict()} provides a value "
                    "that differs from the expression"
                )
        else:
            batch = batch.withColumn(name, F.expr(expr))
    return batch


def table_generated(target_path: str) -> dict[str, str]:
    """The generated-column definitions currently in force."""
    return Snapshot(target_path).generated


def add_generated_column(target_path: str, name: str, sql_expr: str) -> None:
    """Delta ``GENERATED ALWAYS AS (expr)``: record a derived-column
    definition in the log. Every subsequent write computes the column
    when absent and validates it when present (see
    :func:`_apply_generated`). The canonical use is a derived partition
    key — ``event_date = to_date(ts)`` — so writers never hand-compute
    it inconsistently and readers can prune on it. Metadata-only
    commit; existing rows are NOT backfilled (the column appears for
    them as NULL under additive schema evolution until rewritten),
    matching the add-column-then-generate flow."""
    import re

    if not re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", name):
        raise ValueError(f"invalid column name '{name}'")

    def build(snap: Snapshot):
        if not snap.commits:
            raise ValueError(f"no commits at {target_path}")
        if name in snap.retired:
            raise ValueError(
                f"'{name}' is the retired name of a renamed or dropped "
                f"column at {target_path}"
            )
        actions = {"generated_add": {name: sql_expr}, "op": "ADD GENERATED COLUMN"}
        return None, [], actions

    _transact(target_path, build, "add_generated_column")


def drop_generated_column(target_path: str, name: str) -> None:
    """Remove a generated-column definition (the column itself stays —
    it simply stops being derived/validated)."""

    def build(snap: Snapshot):
        if name not in snap.generated:
            raise ValueError(f"no generated column '{name}' at {target_path}")
        return None, [], {"generated_drop": [name], "op": "DROP GENERATED COLUMN"}

    _transact(target_path, build, "drop_generated_column")


def _logical_columns(snap: Snapshot, verb: str) -> list[str]:
    """The live logical column names, for the column DDL writers."""
    if not snap.commits:
        raise ValueError(f"no commits at {snap.path}")
    if snap.schema is None:
        raise ValueError(
            f"cannot {verb} at {snap.path}: table has no recorded schema"
        )
    return [f.name for f in snap.logical_schema.fields]


def _check_unreferenced(snap: Snapshot, name: str, verb: str) -> str:
    """Refuse to rename or drop a column that a CHECK constraint or a
    generated column involves; returns the column's physical name."""
    import re

    phys = snap.colmap.get(name, name)
    for cname, expr in snap.constraints.items():
        if re.search(rf"\b{re.escape(phys)}\b", expr):
            raise ValueError(
                f"cannot {verb} '{name}': CHECK constraint '{cname}' "
                f"({expr}) references it — drop the constraint first"
            )
    for gname, gexpr in snap.generated.items():
        if gname == name or re.search(rf"\b{re.escape(name)}\b", gexpr):
            raise ValueError(
                f"cannot {verb} '{name}': generated column '{gname}' "
                f"({gexpr}) involves it — drop the definition first"
            )
    return phys


def rename_column(target_path: str, old: str, new: str) -> None:
    """Delta ``ALTER TABLE t RENAME COLUMN old TO new`` via column
    mapping: a METADATA-ONLY commit re-points the logical name at the
    column's original physical name — zero data files rewritten, which
    at 100 TB is the entire point (a rewrite-based rename would be a
    full-table copy). Every reader surface (committed reads, pruned
    reads, CDC, the streaming source, ``table_schema``) presents the
    logical view; writers keep addressing the table by logical names
    and the disk boundary translates. Time travel BEFORE the rename
    commit shows the old name, as in Delta.

    Guards: ``old`` must be a current logical column; ``new`` must not
    collide with a live logical name OR any retired physical name (that
    would silently alias historical data); a CHECK constraint
    referencing the column must be dropped first (constraint
    expressions bind to physical names and cannot be rewritten
    safely)."""

    def build(snap: Snapshot):
        logical = _logical_columns(snap, "rename")
        if old not in logical:
            raise ValueError(f"no such column '{old}' at {target_path}")
        if new in logical:
            raise ValueError(f"column '{new}' already exists at {target_path}")
        if new in snap.retired:
            raise ValueError(
                f"'{new}' is the retired physical name of a renamed "
                f"or dropped column at {target_path} — pick a different name"
            )
        _check_unreferenced(snap, old, "rename")
        return None, [], {"rename": {"from": old, "to": new}, "op": "RENAME COLUMN"}

    _transact(target_path, build, "rename_column")


def drop_column(target_path: str, name: str) -> None:
    """Delta ``ALTER TABLE t DROP COLUMN name`` via column mapping: a
    METADATA-ONLY commit retires the column from the logical view — no
    data file rewritten; the bytes stay in old files but every reader
    prunes the column AT THE SCAN (explicit read schema), so they are
    never read again, and subsequent rewrites (compaction, merges) shed
    them physically. Time travel before the drop still shows the
    column. Neither the dropped logical name nor its physical name can
    be reused (name-based mapping cannot disambiguate historical
    bytes — Delta needs column IDs for that; raises loudly instead).
    A CHECK constraint referencing the column must be dropped first."""

    def build(snap: Snapshot):
        if name not in _logical_columns(snap, "drop"):
            raise ValueError(f"no such column '{name}' at {target_path}")
        phys = _check_unreferenced(snap, name, "drop")
        drop_col = {"logical": name, "physical": phys}
        return None, [], {"drop_col": drop_col, "op": "DROP COLUMN"}

    _transact(target_path, build, "drop_column")


def _check_type_conflicts(batch: DataFrame, snap: Snapshot) -> None:
    """Write-side schema validation (Delta's stance): NEW columns are
    additive evolution and commit fine; a column re-declared at a
    WIDER (or narrower — upcast at read) type in the widening lattice
    commits fine and widens (or keeps) the table type; any other
    conflict fails the WRITER, not some later reader. Compared in
    PHYSICAL name space — a renamed column's batch values arrive under
    the logical name but land physically."""
    if snap.schema is None:
        return
    types = {f.name: f.dataType for f in snap.schema.fields}
    for f in _to_physical(batch, snap).schema.fields:
        prev = types.get(f.name)
        if (
            prev is not None
            and prev.json() != f.dataType.json()
            and _widest(prev, f.dataType) is None
        ):
            raise ValueError(
                f"schema evolution type conflict on '{f.name}' at "
                f"{snap.path}: table has {prev.json()}, "
                f"batch has {f.dataType.json()}"
            )


def _enforce_constraints(batch: DataFrame, snap: Snapshot):
    """Reject a write whose batch violates any CHECK constraint in
    force (Delta's write-time enforcement): one codegen'd filter per
    constraint over the BATCH only — O(batch), never a table read.
    Raises with the constraint and one offending row. Constraint
    expressions bind to PHYSICAL column names (rename_column refuses a
    rename while a constraint references the column), so the batch is
    translated before filtering."""
    batch = _to_physical(batch, snap)
    for name, expr in snap.constraints.items():
        bad = batch.filter(~F.expr(expr)).limit(1).collect()
        if bad:
            raise ValueError(
                f"CHECK constraint '{name}' ({expr}) violated at "
                f"{snap.path} by row: {bad[0].asDict()}"
            )


def _commit_ts(target_path: str, c: dict) -> int:
    """A commit's timestamp in epoch millis: the recorded ``ts`` field,
    else (pre-timestamp commits) the manifest file's mtime — the same
    fallback Delta uses when a checkpoint lacks in-commit timestamps."""
    if "ts" in c:
        return c["ts"]
    manifest = os.path.join(_txlog_path(target_path), f"{c['version']:08d}.json")
    return int(os.path.getmtime(manifest) * 1000)


def version_as_of(target_path: str, timestamp_ms: int) -> int:
    """Timestamp-based time travel (Delta's ``timestampAsOf``): the
    latest version committed at or before ``timestamp_ms`` —
    :meth:`Snapshot.version_as_of` on one parse of the table's log."""
    return Snapshot(target_path).version_as_of(timestamp_ms)


_MAX_ATTEMPTS = 20  # lost commit races before a writer gives up


def _transact(
    target_path: str,
    build: Callable[[Snapshot], tuple],
    what: str,
    hook: Callable[[], None] | None = None,
    txn: dict | None = None,
):
    """The one optimistic-commit loop every writer runs. Each attempt
    parses the log once into a :class:`Snapshot` — the only parse of
    the table's log the attempt makes — and calls ``build(snap)``,
    which returns ``(result, staged, actions)``:
    ``staged`` lists the table-relative files it wrote and ``actions``
    the manifest entries to publish, every per-file fact among them
    (rows, sizes, zone maps, bloom filters) already recorded by the
    build's staging pass (:func:`_stage_files`). ``actions`` None is an
    early result — nothing is committed and the staged files are
    deleted. Otherwise the commit schema's logical field names become
    physical ones (commit schemas union with file footers), ``hook``
    runs (fault injection for tests, between stage and publish, where a
    concurrent winner can sneak in), version ``snap.version + 1`` is
    published, and on a lost race the staged files are deleted and
    ``build`` runs again against a snapshot that holds the winner's
    commit — so it never commits under-informed (a merge recomputes its
    anti-join). Returns ``result``.

    ``txn`` (``{"app": ..., "version": ...}``) makes the call an
    at-most-once transaction, and the ledger is checked and stamped
    here alone: an attempt whose snapshot already holds ``app`` at
    ``version`` or higher ends the call before ``build`` runs — nothing
    is staged and the call returns None — and a committing attempt
    records ``txn`` in its manifest. Of two racing instances of one app
    only one lands the transaction: the loser's retry sees the
    winner's marker."""
    for _ in range(_MAX_ATTEMPTS):
        snap = Snapshot(target_path)
        seen = snap.txn_version(txn["app"]) if txn is not None else None
        if seen is not None and seen >= txn["version"]:
            return None  # this transaction (or a later one) landed
        result, staged, actions = build(snap)
        if actions is not None:
            if actions.get("schema") is not None and snap.colmap:
                schema = json.loads(actions["schema"])
                for field in schema.get("fields", []):
                    field["name"] = snap.colmap.get(field["name"], field["name"])
                actions["schema"] = json.dumps(schema)
            if hook is not None:
                hook()
            if _try_commit(target_path, snap.version + 1, {**actions, "txn": txn}):
                return result
        for rel in staged:
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(target_path, rel))
        if actions is None:
            return result
    raise RuntimeError(
        f"{what} lost the commit race {_MAX_ATTEMPTS} times at {target_path}"
    )


# Optional manifest keys in the order they are written, after the
# always-present ``add``, ``n`` and ``ts``. A key is written only when
# its value is set and non-empty (``bloom_cols`` even when empty: an
# empty declaration clears the index columns).
_MANIFEST_KEYS = (
    "sizes", "bloom", "bloom_cols", "remove", "compaction", "stats",
    "schema", "cdc", "dv", "rename", "drop_col", "generated_add",
    "generated_drop", "txn", "restore", "constraints_add",
    "constraints_drop", "vacuum", "op",
)


def _try_commit(target_path: str, version: int, actions: dict) -> bool:
    """Publish ``actions`` (manifest keys, see :data:`_MANIFEST_KEYS`)
    as ``_txlog/{version}.json``; False when another writer holds the
    version (a lost race). Publication only serializes, fsyncs and
    links: it opens, stats and reads no data file — every per-file
    entry (``sizes``, ``stats``, ``bloom``) comes from the build.

    The body is written to a temp file in ``_txlog/`` whose name does
    not end in ``.json`` (no log reader lists it), fsynced, then
    ``os.link``ed to the version name: the link fails if the name
    exists, so exactly one writer wins a version, and no reader or
    crash can observe a partial manifest. A crash leaves at most the
    temp file, which :func:`vacuum_log` reclaims."""
    # Commit timestamp (epoch millis) — the anchor for timestamp-based
    # time travel (Delta's `timestampAsOf`); version order remains the
    # authoritative order.
    body = {
        "add": actions.get("add", []),
        "n": actions.get("n", 0),
        "ts": time.time_ns() // 1_000_000,
    }
    for key in _MANIFEST_KEYS:
        value = actions.get(key)
        if value is None or value is False:
            continue
        if value in ([], {}) and key != "bloom_cols":
            continue
        body[key] = value
    feats = sorted(feat for key, feat in _FEATURE_OF_KEY.items() if key in body)
    if feats:
        # Protocol guard (Delta's reader-feature flags): any commit
        # using a feature an ignorant reader would MISREAD (dv entries
        # ignored = deleted rows resurrected; physical names read as
        # logical; generated/constraint columns unenforced) declares it,
        # and _commits refuses manifests declaring features this reader
        # doesn't know.
        body["features"] = feats
    log = _txlog_path(target_path)
    os.makedirs(log, exist_ok=True)
    manifest = os.path.join(log, f"{version:08d}.json")
    tmp = f"{manifest}.tmp-{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as fh:
            # allow_nan=False: the manifest is the table's public format —
            # strict JSON only (Infinity/NaN tokens would break non-Python
            # log readers). _zone_map already drops non-finite bounds,
            # so this is a loud backstop, not a code path.
            json.dump(body, fh, allow_nan=False)
            fh.flush()
            os.fsync(fh.fileno())
        os.link(tmp, manifest)
    except FileExistsError:
        return False
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
    # A checkpoint + vacuum_log landing while we held a stale head can
    # have REMOVED this version's manifest, re-opening its slot — but
    # _commits skips manifests at or below the checkpoint version, so a
    # write into a covered slot would be silently invisible. Convert it
    # to a CAS loss: the caller refreshes and retries on the real head.
    if version <= _last_checkpoint_version(log):
        os.remove(manifest)
        return False
    return True


# A leaf whose size Spark does not know reports spark.sql.defaultSizeInBytes
# (Long.MaxValue), sometimes scaled down by a projection above it; no real
# input comes near 2^60 bytes.
_UNKNOWN_BYTES = 1 << 60


def _estimated_bytes(plan) -> int:
    """The bytes a logical ``plan`` reads from its leaves: each leaf
    counts its ``stats().sizeInBytes`` (0 when unknown, see
    :data:`_UNKNOWN_BYTES`), a left-anti or left-semi join counts only
    its left side and every other node sums its children. Spark's own
    estimate multiplies a join's two sides, which sized a fact ⋈
    dimension batch at ~1e23 bytes."""
    total, todo = 0, [plan]
    while todo:
        node = todo.pop()
        children = node.children()
        n = children.size()
        if n == 0:
            size = int(node.stats().sizeInBytes())
            total += 0 if size >= _UNKNOWN_BYTES else size
        elif node.nodeName() == "Join" and node.joinType().toString() in ("LeftAnti", "LeftSemi"):
            todo.append(children.apply(0))
        else:
            todo.extend(children.apply(i) for i in range(n))
    return total


def _sized(df: DataFrame, partition_cols: Sequence[str] = ()) -> DataFrame:
    """``df`` arranged for a staging write into few advisory-sized
    files (``spark.sql.adaptive.advisoryPartitionSizeInBytes``), by one
    of two means chosen by the session that will run it:

    * AQE on: a ``rebalance`` hint on ``partition_cols``. AQE measures
      the shuffled bytes, so it coalesces a small write to one file,
      sizes a filtered or joined rewrite by what it really holds and
      splits a partition value larger than the advisory size.
    * AQE off — every streaming micro-batch with a stateful operator —
      Spark drops that hint, so the rows go through ``repartition(n,
      *partition_cols)`` with ``n = clamp(ceil(estimate / advisory), 1,
      shuffle.partitions)``; the estimate is :func:`_estimated_bytes`
      of the analyzed plan. It cannot see a filter's selectivity, and
      hashed on ``partition_cols`` each value gets one file per commit,
      so it is only the fallback. ``repartition``, never ``coalesce``:
      a coalesce would narrow the upstream stage (a stateful dedup's
      shuffle partitions) into n tasks."""
    spark = df.sparkSession
    if spark.conf.get("spark.sql.adaptive.enabled").lower() == "true":
        return df.hint("rebalance", *partition_cols)
    target = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    estimate = _estimated_bytes(df._jdf.queryExecution().analyzed())
    n = min(max(-(-estimate // target), 1), cap)
    return df.repartition(n, *partition_cols)


def _file_meta(path: str, bloom_cols: Sequence[str]) -> tuple[int, int, dict, dict]:
    """One open of the parquet file at ``path``: its rows, its bytes,
    its zone map (:func:`_zone_map`) and its bloom filters on
    ``bloom_cols`` (:func:`_bloom_build`)."""
    import pyarrow.parquet as pq

    with pq.ParquetFile(path) as pf:
        md = pf.metadata
        return md.num_rows, os.path.getsize(path), _zone_map(md), _bloom_build(pf, bloom_cols)


# Change-data and kill-list files: the file-name prefix of each family.
_AUX_PREFIX = {_CDC_DIR: "cdc", _DV_DIR: "dv"}


def _stage_files(
    new_rows: DataFrame,
    snap: Snapshot,
    partition_cols: Sequence[str] | None = None,
    size_output: bool = True,
    subdir: str | None = None,
    bloom_cols: Sequence[str] | None = None,
) -> dict:
    """The one staging step of every writing path: write the rows to a
    dot-hidden staging dir inside the table, then os.replace each part
    file into the table (same filesystem ⇒ atomic rename; readers never
    observe a partial file). A 0-row part is deleted, never staged — no
    empty data, change-data or kill-list file is ever committed.

    Returns the manifest entries of the staged files, all recorded in
    ONE open of each part (:func:`_file_meta`), so publication reads no
    data file: ``add`` (their table-relative paths), ``n`` (their
    rows), ``stats`` (zone maps), ``sizes`` ({path: bytes} — the
    streaming source's split packing and ``table_detail`` read them
    from the log instead of statting every file on every poll;
    advisory, so not a feature) and ``bloom`` (filters on
    ``bloom_cols`` when given — a declaring commit's columns — else
    on the table's :attr:`Snapshot.bloom_cols`).

    ``subdir`` (``_CDC_DIR`` or ``_DV_DIR``) stages change-data or
    kill-list rows flat into that directory: no partition layout, zone
    map or bloom filter, and kill-list rows ``(file, row_index)`` keep
    their names.

    Layout: the rows stage under ``partition_cols`` (logical names)
    when the caller names them, else under the table's current layout
    (:attr:`Snapshot.partition_cols`, the keys of the newest live file
    that the rows carry), so a rewrite keeps the table's partition
    directories.

    Data and change-data files store PHYSICAL column names: the
    logical→physical translation happens here, at the disk boundary, so
    writers compute in logical space and renamed tables keep one
    on-disk schema.

    ``size_output`` (default): size the output by :func:`_sized` —
    advisory-sized files, with AQE on or off, instead of one near-empty
    part per upstream task (guide §6: small files hurt twice — Delta's
    "optimized writes" shuffle). Without it a streaming micro-batch
    staged one part per shuffle partition PER COMMIT, and every later
    snapshot read, matched-file discovery and footer-stats pass paid
    O(files) opens. Callers that arrange their own layout (compact's
    range/Z-order clustering) pass False — a shuffle there would
    destroy the clustering."""
    target_path = snap.path
    if subdir != _DV_DIR:
        new_rows = _to_physical(new_rows, snap)
    if bloom_cols is None:
        bloom_cols = snap.bloom_cols or []
    if subdir is not None:
        partition_cols, bloom_cols = [], []
    elif partition_cols is None:
        partition_cols = [c for c in snap.partition_cols if c in new_rows.columns]
    else:
        partition_cols = [snap.colmap.get(c, c) for c in partition_cols]
    if size_output:
        # Partitioned writes shuffle ON the partition columns so each
        # output directory gets few well-sized files, not one per task.
        new_rows = _sized(new_rows, partition_cols)
    prefix = "part" if subdir is None else _AUX_PREFIX[subdir]
    stage = os.path.join(target_path, f".stage-{prefix}-{uuid.uuid4().hex}")
    writer = new_rows.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(stage)
    entries: dict = {"add": [], "n": 0, "stats": {}, "sizes": {}, "bloom": {}}
    for dirpath, dirnames, filenames in os.walk(stage):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for fn in filenames:
            if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
                continue
            rows, size, zone_map, bloom = _file_meta(os.path.join(dirpath, fn), bloom_cols)
            if not rows:
                continue  # left in the stage dir, removed with it
            # Under ``subdir``, or under the part's Hive partition dirs.
            rel = os.path.normpath(os.path.join(
                subdir or "", os.path.relpath(dirpath, stage),
                f"{prefix}-{uuid.uuid4().hex}.parquet",
            ))
            os.makedirs(os.path.dirname(os.path.join(target_path, rel)), exist_ok=True)
            os.replace(os.path.join(dirpath, fn), os.path.join(target_path, rel))
            entries["add"].append(rel)
            entries["n"] += rows
            entries["sizes"][rel] = size
            if zone_map and subdir is None:
                entries["stats"][rel] = zone_map
            if bloom:
                entries["bloom"][rel] = bloom
    shutil.rmtree(stage, ignore_errors=True)
    return entries


def _zone_map(md) -> dict[str, list]:
    """One file's zone map from its parquet footer: {column: [min,
    max]} for int/float/string leaf columns. Columns without parquet
    statistics (or with exotic types) are simply absent, which readers
    treat as unprunable (safe).

    A column whose min/max cannot be established for EVERY row group of
    the file is dropped from the map entirely: a partial zone map
    (some row groups bounded, others not) would understate the file's
    true range and make read_committed_pruned skip a file that contains
    matching rows — silent row loss. The one row-group shape that is
    safe to skip is the provably all-NULL chunk (no non-null values can
    ever match a range predicate). Non-finite float bounds (±inf/NaN
    footers) are likewise dropped — they bound nothing useful and would
    make the commit manifest non-strict JSON."""
    import math

    cols: dict[str, list] = {}
    bad: set[str] = set()  # columns with any unbounded row group
    for rg_idx in range(md.num_row_groups):
        rg = md.row_group(rg_idx)
        for c_idx in range(rg.num_columns):
            col = rg.column(c_idx)
            name = col.path_in_schema
            try:
                st = col.statistics
                if st is None:
                    bad.add(name)
                    continue
                if not st.has_min_max:
                    # All-NULL chunk: zero non-null values, nothing to
                    # bound — safe to omit. Anything else (writer
                    # dropped stats on oversized values…) poisons the
                    # column for this file.
                    if not (st.has_null_count and st.null_count == col.num_values):
                        bad.add(name)
                    continue
                lo, hi = st.min, st.max
            except Exception:  # noqa: BLE001 — pyarrow raises on
                bad.add(name)  # types it can't extract stats for
                continue
            if not isinstance(lo, (int, float, str)) or not isinstance(
                hi, (int, float, str)
            ):
                bad.add(name)
                continue
            if isinstance(lo, float) and not (math.isfinite(lo) and math.isfinite(hi)):
                bad.add(name)
                continue
            if name in cols:
                cols[name] = [min(cols[name][0], lo), max(cols[name][1], hi)]
            else:
                cols[name] = [lo, hi]
    for name in bad:
        cols.pop(name, None)
    return cols


def table_schema(target_path: str, version: int | None = None):
    """The table's evolved schema: the union of every commit's recorded
    writer schema in version order — additive evolution only (an
    insert-only log never narrows; a field re-declared with a DIFFERENT
    type raises rather than silently widening, Delta's
    default-off autoMerge stance). Returns None when no commit recorded
    a schema (pre-evolution tables read with file-inferred schemas).
    Field names are the LOGICAL view as of the version (column mapping
    applied); zone maps (:func:`file_stats`) stay physical."""
    return Snapshot(target_path, version).logical_schema


def file_stats(target_path: str, version: int | None = None) -> dict[str, dict]:
    """Zone maps of the committed file view: {rel_path: {col: [min,
    max]}}, add/remove applied in version order. Files committed before
    stats existed are absent — unprunable."""
    return Snapshot(target_path, version).stats


def read_committed_pruned(
    spark: SparkSession,
    target_path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> tuple[DataFrame | None, int, int]:
    """Data-skipping read: the committed view restricted to
    ``col BETWEEN lo AND hi``, opening ONLY the files whose commit-time
    zone map intersects the range (files without stats are kept —
    pruning is an optimization, never a correctness device). Returns
    (frame, files_read, files_total); the residual BETWEEN filter still
    applies row-level inside the kept files.

    This is the txlog's answer to Delta/Iceberg file skipping: at
    100 TB a selective range predicate touches the handful of files
    whose footer stats admit it — O(selected data), not O(table) —
    and the decision happens driver-side on manifest metadata, before
    any task is scheduled. ONE log parse serves files, zone maps, and
    the evolved union schema (so a pruned read of a schema-evolved
    table sees the same columns as read_committed — evolved columns
    null-fill, and pruning ON an evolved column works). A range that
    no zone map admits reads no file and runs no job
    (:func:`_no_rows`)."""
    snap = Snapshot(target_path).readable_as_of(version)
    files = snap.files
    if not files:
        return None, 0, 0
    stats = snap.stats
    # Zone maps are keyed by PHYSICAL column name; the caller passes
    # the logical one (the residual filter below runs on the logical
    # frame _read_snapshot returns).
    pcol = snap.colmap.get(col, col)
    kept = [
        f
        for f in files
        if pcol not in stats.get(f, {})
        or not (stats[f][pcol][1] < lo or stats[f][pcol][0] > hi)
    ]
    if not kept:
        return _no_rows(spark, snap), 0, len(files)
    df = _read_snapshot(spark, snap, kept, schema=snap.schema).filter(
        F.col(col).between(lo, hi)
    )
    return df, len(kept), len(files)


def read_committed(
    spark: SparkSession,
    target_path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame | None:
    """Strict committed-only read: only files referenced by a commit
    manifest — a crashed writer's orphaned staging output is invisible.
    Pass ``version`` for time travel (the snapshot as of that commit;
    earlier files must not have been vacuumed yet, same rule as Delta's
    retention window) or ``timestamp_ms`` for timestamp-based travel
    (resolved to a version on the same parse of the log,
    :meth:`Snapshot.version_as_of`; passing both raises, as in Delta).
    ``basePath`` keeps partition-directory columns recoverable.

    Schema comes from the LOG when commits recorded one (the union of
    writer schemas — additive evolution): files written before a column
    existed null-fill it, and no footer round-trip per file is needed
    (the mergeSchema-option cost Delta also avoids by logging schemas).
    """
    snap = Snapshot(target_path).readable_as_of(version, timestamp_ms)
    if not snap.files:
        return None
    return _read_snapshot(spark, snap, snap.files, schema=snap.schema)


def table_changes(
    spark: SparkSession,
    target_path: str,
    from_version: int,
    with_version: bool = False,
) -> DataFrame | None:
    """TYPED change-data-feed read (Delta CDF contract): every row of
    every commit with version > ``from_version``, tagged with
    ``_change_type`` ∈ {insert, update_preimage, update_postimage,
    delete}. Insert-only commits derive the feed from their add files
    directly (zero extra storage — Delta's same optimization for blind
    appends) and tag every row ``insert``, less the rows that the
    commit's own deletion-vector reset masks (a CLONE of a table with
    deletion vectors links masked files whole); commits that update or
    delete rows (merges, DML, restore) read the ``_change_data``
    parquet files the writer recorded, which carry their own
    ``_change_type`` column: pre- AND post-image rows for every update,
    a ``delete`` row for every deleted one. Compaction commits rewrite
    existing rows without changing table contents, so they are
    excluded. Incremental consumers poll ``_committed_version`` and
    read only the delta — the pattern that turns a 100 TB table into a
    streamable source without rescanning history.

    ``with_version=True`` additionally tags every row with its
    originating commit as ``_commit_version`` (Delta CDF's column).

    All parts read under the log's evolved union schema when recorded,
    so a feed spanning a schema-evolution boundary delivers the current
    table schema with older rows null-filled — never the schema of
    whichever file inference happened to open first.

    Scale: one scan node per commit in the polled window, each opening
    only that commit's added (or change-data) files — O(delta), never a
    table scan."""
    from pyspark.sql.types import StringType, StructField, StructType

    snap = Snapshot(target_path)
    snap.check_horizon(from_version, f"change feed from version {from_version}")
    evolved = snap.schema
    parts: list[DataFrame] = []
    for c, is_cdc, files, masks in snap.changes(from_version):
        if is_cdc:
            # Change-data files are flat (partition columns are physical
            # there) and carry _change_type — no basePath needed.
            reader = spark.read
            if evolved is not None:
                reader = reader.schema(
                    StructType(
                        [*evolved.fields, StructField(_CHANGE_COL, StringType(), True)]
                    )
                )
            part = reader.parquet(*[os.path.join(target_path, rel) for rel in files])
        else:
            part = _read_files(
                spark, target_path, files, schema=evolved, lineage=bool(masks)
            )
            if masks:
                part = _drop_masked(spark, target_path, part, masks).drop(
                    _FP_COL, _RI_COL
                )
            part = part.withColumn(_CHANGE_COL, F.lit("insert"))
        if with_version:
            part = part.withColumn(
                "_commit_version", F.lit(c["version"]).cast("bigint")
            )
        parts.append(part)
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        # allowMissingColumns: commits on either side of an additive
        # schema evolution union cleanly (older rows null-fill).
        out = out.unionByName(p, allowMissingColumns=True)
    # Change files store physical names; consumers see the logical view.
    return _to_logical(out, snap)


def _zorder_key(
    snapshot: DataFrame, cluster_by: Sequence[str], bits: int = 8
) -> Column:
    """Z-order (Morton) key over ≥2 NUMERIC columns: each value is
    range-bucketized into 2^bits ranks from the snapshot's driver-side
    min/max (one aggregation pass — negligible next to the rewrite),
    then the rank bits are interleaved with plain JVM shift/and/or
    arithmetic — whole-stage-codegen expressions, no UDF. Sorting by
    the interleaved key gives every output file a bounded range in
    EVERY clustered dimension simultaneously, which is what makes
    multi-column zone-map skipping work (OPTIMIZE ZORDER's core trick;
    a lexicographic multi-column sort only bounds the first column).
    NULLs rank 0 (they match no range predicate, so mis-clustering
    them is harmless)."""
    from pyspark.sql.types import NumericType

    k = len(cluster_by)
    fields = {f.name: f.dataType for f in snapshot.schema.fields}
    for c in cluster_by:
        if not isinstance(fields.get(c), NumericType):
            raise ValueError(
                f"zorder clustering requires numeric columns; '{c}' is "
                f"{fields.get(c)}"
            )
    stats = snapshot.agg(
        *[F.min(c).alias(f"_lo{i}") for i, c in enumerate(cluster_by)],
        *[F.max(c).alias(f"_hi{i}") for i, c in enumerate(cluster_by)],
    ).collect()[0]
    n_buckets = 1 << bits
    z: Column = F.lit(0).cast("bigint")
    for i, c in enumerate(cluster_by):
        lo, hi = stats[f"_lo{i}"], stats[f"_hi{i}"]
        if lo is None or hi is None or float(hi) == float(lo):
            continue  # constant/all-null column carries no order
        norm = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(
            float(hi) - float(lo)
        )
        bucket = F.least(
            F.lit(n_buckets - 1),
            F.greatest(F.lit(0), F.floor(norm * n_buckets).cast("int")),
        )
        bucket = F.coalesce(bucket, F.lit(0))
        for b in range(bits):
            z = z + F.shiftright(bucket, b).bitwiseAND(F.lit(1)).cast(
                "bigint"
            ) * F.lit(1 << (b * k + i))
    return z


def compact(
    spark: SparkSession,
    target_path: str,
    min_files: int = 2,
    target_bytes: int = 128 * 1024 * 1024,
    cluster_by: Sequence[str] | None = None,
    zorder: bool = False,
) -> int:
    """Small-file compaction (Delta OPTIMIZE analog): rewrite the
    committed files into ~``target_bytes`` parts and commit the swap as
    one atomic version (add=new, remove=old, compaction=true). Readers
    at any point see either the old or the new file set — never both.
    The replaced files stay on disk for older-version readers until
    ``vacuum_orphans`` reclaims them (the retention-window trade). The
    rewrite keeps the table's partition layout (the keys of the newest
    live file), and a table whose rows are all DV-masked compacts to no
    file at all.

    ``cluster_by`` is OPTIMIZE ZORDER's single-dimension analog: the
    rewrite range-partitions + sorts on the given columns, so each
    output file covers a narrow value range and the commit's zone maps
    (``stats``) become maximally selective — ingestion-ordered files
    answer a range predicate by reading everything, clustered files by
    reading one or two (see test_compact_cluster_by_tightens_zone_maps).
    With ``zorder=True`` and ≥2 numeric ``cluster_by`` columns, the
    rewrite sorts on the bit-interleaved Morton key instead
    (:func:`_zorder_key`) — true multi-dimension OPTIMIZE ZORDER:
    every output file gets a bounded range in EVERY clustered column,
    so single-column predicates on ANY of them skip files
    (lexicographic sort only serves the leading column).

    Returns the number of files replaced (0 = nothing to do).

    At 100 TB this is THE operational lever against the small-file
    problem streaming ingest creates: per-micro-batch commits make many
    small parts; periodic compaction restores scan efficiency without
    pausing ingest — and clustered compaction is the background job
    that turns an append-ordered table into a range-skippable one."""

    def build(snap: Snapshot):
        old = snap.files
        if len(old) < min_files:
            return 0, [], None
        total = sum(
            os.path.getsize(os.path.join(target_path, f)) for f in old
        )
        n_parts = max(1, int(total // target_bytes) + (1 if total % target_bytes else 0))
        # The snapshot reads under the log's evolved schema so a
        # compaction of a schema-evolved table rewrites the UNION schema
        # (null-filled), not whichever file schema inference happened
        # to pick.
        # _read_snapshot: a compaction of DV-carrying files reads the
        # DV-filtered rows and removes the old files — the rewrite IS
        # the physical purge, and the output files start DV-free.
        snapshot = _read_snapshot(spark, snap, old, schema=snap.schema)
        if cluster_by and zorder and len(cluster_by) >= 2:
            # Morton-key clustering: disjoint z-ranges per output file
            # ⇒ bounded min/max in every clustered dimension.
            arranged = (
                snapshot.withColumn("_zorder", _zorder_key(snapshot, cluster_by))
                .repartitionByRange(n_parts, "_zorder")
                .sortWithinPartitions("_zorder")
                .drop("_zorder")
            )
        elif cluster_by:
            # repartitionByRange + sortWithinPartitions = disjoint,
            # internally-ordered value ranges per output file.
            arranged = snapshot.repartitionByRange(
                n_parts, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        else:
            arranged = snapshot.coalesce(n_parts)
        # size_output=False: layout arranged above (coalesce/cluster).
        staged = _stage_files(arranged, snap, size_output=False)
        return len(old), staged["add"], {
            **staged,
            "n": 0,  # a compaction changes no rows
            "remove": old,
            "compaction": True,
            "op": "OPTIMIZE",
        }

    return _transact(target_path, build, "compact")


def vacuum_orphans(target_path: str) -> list[str]:
    """Delete the table files (:func:`_table_files`) the head no longer
    needs — Delta's VACUUM with zero retention. It keeps the live data
    files and every committed change-data and kill-list file (the feed's
    history and the row views of older snapshots). A data file a commit
    removed is reclaimed at once. A file no commit references — a
    crashed writer's staged part, a file placed in the directory outside
    the log — is reclaimed once it is older than :data:`_STALE_S`, so
    the sweep is safe beside any writer that stages new files and
    publishes them within that bound. It is not safe beside a
    ``restore`` or ``clone_table`` of an older version: the removed
    files they re-add or link are reclaimed at once, so a sweep between
    their presence check and their publish or link leaves them a
    missing file. No vacuum horizon is recorded, so time travel to
    a version whose removed files were reclaimed fails at the scan
    instead of with the retention error (:func:`vacuum` records one)."""
    snap = Snapshot(target_path)
    keep, referenced = set(snap.files), set()
    for c in snap.commits:
        refs = _refs(c)
        referenced.update(refs)
        keep.update(set(refs) - set(c["add"]))  # change data, kill lists
    removed = []
    for rel in _table_files(target_path):
        if rel in keep:
            continue
        path = os.path.join(target_path, rel)
        # FileNotFoundError: a writer that lost its race removed its stage.
        with contextlib.suppress(FileNotFoundError):
            if rel in referenced or time.time() - os.path.getmtime(path) > _STALE_S:
                os.remove(path)
                removed.append(rel)
    return removed


def vacuum(
    target_path: str,
    retain_versions: int | None = None,
    retain_ms: int | None = None,
    *,
    unsafe_zero_retention: bool = False,
) -> list[str]:
    """Retention-window VACUUM (Delta's ``VACUUM t RETAIN n HOURS``,
    version- or time-based): physically reclaim every file a commit
    references (:func:`_refs`) that the retention window
    [head-``retain_versions``, head] (or, with ``retain_ms``, every
    snapshot younger than that age) no longer needs
    (:meth:`Snapshot.retained`): replaced data files, their kill lists
    and the change-data files of commits at or below the cutoff.
    Returns the reclaimed relative paths.

    The retention window is EXPLICIT: exactly one of
    ``retain_versions`` / ``retain_ms`` must be passed, and a
    zero-retention window (which immediately ratchets the horizon to
    head and drops ALL time-travel history) additionally requires
    ``unsafe_zero_retention=True`` — the same guard Delta puts behind
    ``spark.databricks.delta.retentionDurationCheck.enabled``, so one
    forgotten argument can never silently destroy history.

    The cutoff is recorded as a metadata commit (``vacuum.cutoff``),
    and it RATCHETS — later vacuums never regress it. Readers honor it
    as a contract: ``read_committed``/``read_committed_pruned`` with a
    version below the horizon, and ``table_changes`` starting below
    it, raise a clear retention error instead of failing mid-scan on
    missing files (the failure Delta surfaces as a FileNotFound deep
    inside a job).

    Only files that commit history itself references are candidates —
    a concurrent writer's staged-but-uncommitted files are untouched
    (they are not in any manifest), so vacuum is safe to run beside
    live writers; :func:`vacuum_orphans` reclaims crashed-stage
    orphans once they are stale.

    Scale: pure driver-side manifest math + unlink calls — O(#commits
    + #reclaimed files); no Spark job, no data read. Bounded storage
    for a continuously-upserting 100 TB table comes exactly from this:
    without vacuum, copy-on-write rewrites accumulate forever."""
    if (retain_versions is None) == (retain_ms is None):
        raise ValueError(
            "vacuum requires an explicit retention window: pass exactly "
            "one of retain_versions= or retain_ms="
        )
    window = retain_versions if retain_versions is not None else retain_ms
    if window < 0:
        # A negative window is never meaningful — and worse than zero:
        # retain_versions=-1 would compute cutoff = head + 1, ratcheting
        # the horizon ABOVE the current snapshot and bricking every read.
        raise ValueError(f"retention window must be >= 0, got {window}")
    if window == 0 and not unsafe_zero_retention:
        raise ValueError(
            "zero-retention vacuum drops ALL time-travel history below "
            "head; pass unsafe_zero_retention=True to confirm (Delta's "
            "retentionDurationCheck equivalent)"
        )
    removed: list[str] = []
    cutoff: int | None = None

    def build(snap: Snapshot):
        nonlocal cutoff
        if not snap.commits:
            return removed, [], None
        if cutoff is None:  # fixed on first attempt; CAS retries re-use it
            if retain_ms is not None:
                try:
                    raw_cutoff = snap.version_as_of(
                        int(time.time() * 1000) - retain_ms
                    )
                except ValueError:
                    # The retention window predates the first commit — a
                    # conservative policy (e.g. RETAIN 7 DAYS) on a young
                    # table retains EVERYTHING (versions start at 1, so a
                    # cutoff of 0 keeps every data and CDC file live).
                    # Delta's VACUUM likewise no-ops rather than crash
                    # the maintenance job. Fall through with cutoff 0:
                    # the scan below still re-reclaims crash leftovers
                    # under an EXISTING horizon, and the commit-free
                    # return keeps a true no-op pass commit-free — the
                    # same behavior an equivalently oversized
                    # retain_versions window gets (ADVICE r14: the two
                    # no-op paths must not diverge).
                    raw_cutoff = 0
            else:
                raw_cutoff = max(snap.version - retain_versions, 0)
            prior_horizon = snap.vacuum_cutoff
            cutoff = max(raw_cutoff, prior_horizon)  # horizon ratchets
            referenced = {rel for c in snap.commits for rel in _refs(c)}
            for rel in sorted(referenced - snap.retained(cutoff)):
                try:
                    os.remove(os.path.join(target_path, rel))
                    removed.append(rel)
                except FileNotFoundError:
                    pass  # reclaimed by an earlier vacuum
            if not removed and cutoff <= prior_horizon:
                # Pure no-op maintenance pass: the horizon would not
                # move and nothing was reclaimable — return commit-free
                # instead of appending an empty VACUUM marker, so a
                # scheduled conservative policy on a quiet table does
                # not grow the log (symmetric across the version- and
                # time-window paths, ADVICE r14).
                return removed, [], None
        return removed, [], {"vacuum": {"cutoff": cutoff}, "op": "VACUUM"}

    return _transact(target_path, build, "vacuum")


def restore(
    spark: SparkSession,
    target_path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> tuple[int, int]:
    """Delta ``RESTORE TABLE t TO VERSION AS OF v`` (or TIMESTAMP AS OF)
    on the parquet txlog: commit a NEW version whose file view equals
    the view at the target version — metadata-only roll-back, no data
    rewrite. Returns (files_re_added, files_dropped).

    The restore is itself a commit (history is never erased — time
    travel to the pre-restore state keeps working, as in Delta), and
    it is O(#commits) driver metadata plus one open of each re-added
    file for its row count, size and bloom filters: at 100 TB nothing
    re-writes, the manifest just flips adds/removes. Files the target view needs must still exist
    (not vacuumed) — missing files raise loudly rather than committing
    a view that cannot be read, the same guard Delta's RESTORE applies
    against its retention window.

    TYPED CDC: the commit stages change rows computed as the FILE-level
    diff — rows of re-added files tagged ``insert``, rows of dropped
    files tagged ``delete`` (what Delta CDF emits for RESTORE). A
    restore that crosses a compaction boundary therefore reports
    physically-rewritten rows as delete+insert pairs even though table
    CONTENTS did not change there — a physical, not logical, diff
    (documented Delta caveat as well).

    Divergence from Delta, documented: the log's schema is an additive
    union, so restore reverts DATA only; columns evolved after the
    target version remain in the read schema and null-fill over
    re-added files.
    """
    if timestamp_ms is not None and version is not None:
        raise ValueError("pass version OR timestamp_ms, not both")

    def build(snap: Snapshot):
        nonlocal version
        if not snap.commits:
            raise ValueError(f"no commits at {target_path}")
        if version is None and timestamp_ms is not None:
            # Resolved on the first attempt's parse; CAS retries re-use it.
            version = snap.version_as_of(timestamp_ms)
        head = snap.version
        if version is None or version > head:
            raise ValueError(f"restore target {version} not in log (head={head})")
        snap.check_horizon(version, f"restore target {version}")
        old = snap.as_of(version)
        old_files, cur_files = old.files, snap.files
        re_add = sorted(set(old_files) - set(cur_files))
        drop = sorted(set(cur_files) - set(old_files))
        old_dv, cur_dv = old.dv, snap.dv
        # Files in BOTH views whose deletion-vector state changed: their
        # row visibility differs even though the file view doesn't (a
        # merge-on-read DELETE between target and head adds/removes no
        # files). They contribute CDC rows, and make a same-file-view
        # restore a real commit, not a no-op.
        dv_diff = sorted(
            f
            for f in set(old_files) & set(cur_files)
            if sorted(old_dv.get(f, [])) != sorted(cur_dv.get(f, []))
        )
        if not re_add and not drop and not dv_diff:
            return (0, 0), [], None  # restoring to the current view is a no-op
        snap.check_present(
            [*re_add, *old.kill_lists(old_files)], f"restore to v{version}"
        )
        evolved = snap.schema

        def _tagged(
            rel_files: list[str], tag: str, as_of: Snapshot
        ) -> DataFrame | None:
            # Each side of the diff reads under ITS snapshot's deletion
            # vectors: resurrected rows exclude rows already DV-deleted
            # at the target version; dropped rows exclude rows DV-deleted
            # since — the CDC diff is over visible rows, not raw files.
            if not rel_files:
                return None
            return _read_snapshot(
                spark, as_of, rel_files, schema=evolved
            ).withColumn(_CHANGE_COL, F.lit(tag))

        ins = _tagged(re_add, "insert", old)
        if ins is not None:
            # The insert side read under the TARGET version's logical
            # names; re-express it in the head's so the CDC union,
            # constraint check, and staging all speak one space.
            ins = _relabel(ins, old, snap)
        dels = _tagged(drop, "delete", snap)
        if dv_diff:
            # Row-level diff over the DV-changed common files: visible
            # at the target but masked now → resurrected (insert);
            # visible now but masked at the target → suppressed
            # (delete). Keyed on (file, row index) lineage — O(changed
            # files), broadcast anti-joins on the kill lists.
            vis_old = _read_snapshot(
                spark, old, dv_diff, schema=evolved, keep_lineage=True
            )
            vis_cur = _read_snapshot(
                spark, snap, dv_diff, schema=evolved, keep_lineage=True
            )
            resurrected = (
                _relabel(
                    vis_old.join(
                        vis_cur.select(_FP_COL, _RI_COL),
                        [_FP_COL, _RI_COL],
                        "left_anti",
                    ),
                    old,
                    snap,
                )
                .drop(_FP_COL, _RI_COL)
                .withColumn(_CHANGE_COL, F.lit("insert"))
            )
            suppressed = (
                vis_cur.join(
                    vis_old.select(_FP_COL, _RI_COL), [_FP_COL, _RI_COL], "left_anti"
                )
                .drop(_FP_COL, _RI_COL)
                .withColumn(_CHANGE_COL, F.lit("delete"))
            )
            ins = resurrected if ins is None else ins.unionByName(resurrected)
            dels = suppressed if dels is None else dels.unionByName(suppressed)
        if ins is not None:
            # A constraint added AFTER the target version must not be
            # silently violated by resurrected rows — validate them
            # (we are reading these files for CDC anyway).
            _enforce_constraints(ins.drop(_CHANGE_COL), snap)
        cdc = ins.unionByName(dels) if ins is not None and dels is not None else (
            ins if ins is not None else dels
        )
        staged = _stage_files(cdc, snap, subdir=_CDC_DIR)
        # The re-added files' rows, sizes and bloom filters (on the
        # head's index columns), from one open of each.
        n, sizes, bloom = 0, {}, {}
        for f in re_add:
            rows, sizes[f], _, bloom[f] = _file_meta(
                os.path.join(target_path, f), snap.bloom_cols or []
            )
            n += rows
        # Footer row counts overstate DV-masked files — subtract the
        # target version's kill-list rows for the re-added files.
        masked = _value_counts(target_path, old.kill_lists(re_add), "file")
        n -= sum(masked[f] for f in re_add)
        return (len(re_add), len(drop)), staged["add"], {
            "add": re_add,
            "n": n,
            "remove": drop,
            "stats": {f: old.stats[f] for f in re_add if f in old.stats},
            "sizes": {**sizes, **staged["sizes"]},
            "bloom": {f: b for f, b in bloom.items() if b},
            "cdc": staged["add"],
            # Restoring the file view restores the DV state with it —
            # a reset entry replaces the replayed mapping wholesale.
            "dv": {"reset": old_dv, "n": 0} if old_dv != cur_dv else None,
            "restore": version,
            "op": "RESTORE",
        }

    return _transact(target_path, build, "restore")


def clone_table(
    src_path: str,
    dst_path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """Delta ``CREATE TABLE dst DEEP CLONE src [VERSION AS OF v]``: an
    independent table whose initial state is the source snapshot. Data
    and deletion-vector files are HARDLINKED into the destination
    (``os.link`` — zero bytes copied on one filesystem; cross-device
    falls back to a copy), which is safe because committed files are
    immutable by construction: every writer stages NEW uuid-named
    parts, so neither table can ever see the other's mutations, and a
    VACUUM on one side merely unlinks its own name while the inode
    lives on for the other. On S3 the same protocol is a server-side
    copy — the manifest-level mechanics are identical.

    Everything the snapshot's logical view depends on is carried: the
    live file list, zone maps, file sizes, per-file bloom filters
    (linked files keep their indexes; on a bloom-declared table, a file
    the source never indexed — committed before the declaration — is
    indexed here, so no clone file is left without one), the merged
    physical schema, the
    deletion-vector state (as a reset entry), CHECK constraints,
    generated columns, bloom index columns, and the column-mapping
    state (net renames and drops re-emitted as metadata commits). The
    clone's HISTORY starts fresh at version 1 — time travel inside the
    clone reaches only post-clone states, exactly Delta's CLONE
    contract — and the source's vacuum horizon does not carry (every
    linked file is live at the cloned snapshot).

    Cost at 100 TB: O(#files) driver-side metadata + link calls, no
    Spark job, and no data I/O beyond indexing the unindexed files.
    Returns the clone's head version.

    Reference parity: the reference snapshots tables by re-writing
    parquet per ingestion date (load_to_s3.py:16-27); CLONE is the
    table-format-native upgrade of that snapshot step."""
    import pyarrow.parquet as pq

    src = Snapshot(src_path)
    if not src.commits:
        raise ValueError(f"no commits at {src_path}")
    snap = src.readable_as_of(version, timestamp_ms)
    if not snap.commits:
        raise ValueError(
            f"version {version} predates the first commit at {src_path}"
        )
    files = snap.files
    dv_files = snap.kill_lists(files)
    snap.check_present([*files, *dv_files], f"clone of v{snap.version}")
    if _commits(dst_path):
        raise ValueError(
            f"clone destination {dst_path} already has a transaction log"
        )
    if _table_files(dst_path):
        raise ValueError(
            f"clone destination {dst_path} already contains table files"
        )
    fset = set(files)
    dv_state = {
        f: list(dvs) for f, dvs in snap.dv.items() if f in fset and dvs
    }
    os.makedirs(dst_path, exist_ok=True)
    for rel in [*files, *dv_files]:
        dst_f = os.path.join(dst_path, rel)
        os.makedirs(os.path.dirname(dst_f), exist_ok=True)
        try:
            os.link(os.path.join(src_path, rel), dst_f)
        except OSError:  # cross-device or FS without hardlinks
            shutil.copy2(os.path.join(src_path, rel), dst_f)
    bloom = {f: b for f, b in snap.blooms.items() if f in fset}
    if snap.bloom_cols:
        for rel in files:
            if rel not in bloom:
                with pq.ParquetFile(os.path.join(dst_path, rel)) as pf:
                    bloom[rel] = _bloom_build(pf, snap.bloom_cols)
    struct = snap.schema
    base = {
        "add": files,
        "stats": {f: s for f, s in snap.stats.items() if f in fset},
        "sizes": {f: b for f, b in snap.sizes.items() if f in fset},
        "schema": json.dumps(struct.jsonValue()) if struct is not None else None,
        "dv": {"reset": dv_state} if dv_state else None,
        "bloom": {f: b for f, b in bloom.items() if b},
        "bloom_cols": snap.bloom_cols,
        "constraints_add": snap.constraints,
        "generated_add": snap.generated,
    }
    # Column-mapping state: the NET rename per mapped column plus the
    # original drop entries, as metadata-only commits after the base —
    # replaying them in the clone reproduces the source's logical view
    # and its retired-name guards exactly. Replayed renames CHAIN
    # through each other (Snapshot.colmap pops the prior entry), so a
    # rename cycle (a→t, b→a, t→b nets to {a: b, b: a}) replayed as
    # direct physical→logical renames would collapse to the identity;
    # route every net rename through a unique temporary name instead:
    # phase 1 parks each physical under a temp, phase 2 lands the
    # logical, and no replayed commit's source can collide with
    # another's target.
    net = sorted((l, p) for l, p in snap.colmap.items() if l != p)
    replay = [base]
    for i, (_, physical) in enumerate(net):
        replay.append({"rename": {"from": physical, "to": f"__clone_tmp_{i}__"}})
    for i, (logical, _) in enumerate(net):
        replay.append({"rename": {"from": f"__clone_tmp_{i}__", "to": logical}})
    for c in snap.commits:
        if c.get("drop_col"):
            replay.append({"drop_col": dict(c["drop_col"])})
    # The clone's log starts empty; a publish that finds its version
    # taken means another writer is creating the same table.
    for v, actions in enumerate(replay, start=1):
        if not _try_commit(dst_path, v, {**actions, "op": "CLONE"}):
            raise RuntimeError(
                f"clone destination {dst_path} committed concurrently"
            )
    return len(replay)


def last_txn_version(target_path: str, app_id: str) -> int | None:
    """The highest transaction version committed for ``app_id`` —
    Delta's ``txnAppId``/``txnVersion`` idempotent-writer ledger,
    replayed from the commit manifests (O(#commits) driver metadata).
    None when the app has never committed."""
    return Snapshot(target_path).txn_version(app_id)


def append_txn(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    app_id: str,
    txn_ver: int,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> int:
    """Idempotent transactional blind append — Delta's
    ``option("txnAppId", app).option("txnVersion", v)`` contract: the
    batch lands AT MOST ONCE per (app_id, txn_ver). A replay (same or
    older txn_ver) is a no-op returning 0; the caller (typically a
    foreachBatch streaming sink replaying after a checkpoint recovery)
    gets exactly-once table contents without any key-based dedup.

    The already-committed check runs on every commit attempt's
    snapshot (:func:`_transact`), so of two racing instances of the
    same app only one lands the transaction. An empty batch still
    commits its marker. Blind append = no target read at all —
    O(batch) regardless of table size, the cheapest possible write
    path at 100 TB.
    """

    def build(snap: Snapshot):
        b = _apply_generated(batch, snap)
        _check_type_conflicts(b, snap)
        _enforce_constraints(b, snap)
        staged = _stage_files(b, snap)
        return staged["n"], staged["add"], {
            **staged,
            "schema": json.dumps(b.schema.jsonValue()),
            "op": "STREAMING UPDATE",
        }

    txn = {"app": app_id, "version": txn_ver}
    return _transact(target_path, build, "append_txn", _pre_commit_hook, txn) or 0


def merge_append(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: Sequence[str],
    partition_cols: Sequence[str] | None = None,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> int:
    """K3/K4: idempotent merge-append — insert batch rows whose ``keys``
    are absent from the target; returns inserted-row count (the
    reference returns it for logging, loading.py:119).

    Batch is pre-deduplicated on the keys (the reference's intra-batch
    cache, loading.py:274). Idempotent: re-running the same batch
    inserts 0 rows, and atomic under concurrent writers (the module
    docstring's commit loop recomputes the anti-join after a lost
    race). The anti-join snapshot is the COMMITTED view (manifest-listed
    files only), so a concurrent writer's staged-but-uncommitted rows
    never suppress an insert — if that writer dies before its commit,
    its keys are still insertable.

    ``partition_cols`` declares or changes the table's layout: the
    rows stage under those Hive partition keys, and later rewrites keep
    them. None stages under the table's current layout (flat on an
    empty table).

    A single-column key on a table that never declared bloom columns
    becomes its bloom index column (:func:`_bloom_declaration`): the
    commit declares it and indexes its own files, so point reads by
    the key skip the files that cannot hold it.

    ``_pre_commit_hook`` is fault-injection for tests (runs between
    stage and publish, where a concurrent winner can sneak in).
    """
    batch = batch.dropDuplicates(list(keys))

    def build(snap: Snapshot):
        b = _apply_generated(batch, snap)
        # Write-side schema validation (Delta's stance): NEW columns are
        # additive evolution and commit fine; a column re-declared with
        # a different type fails the WRITER, not some later reader.
        # Re-checked per attempt — the schema may have evolved under a
        # concurrent winner.
        _check_type_conflicts(b, snap)
        if snap.files:
            # _read_snapshot (not _read_files): DV-masked rows are not
            # part of the table — their keys must not suppress inserts
            # — and the anti-join runs in logical column space. The
            # log-declared schema (when present) skips the per-call
            # parquet schema-inference job.
            existing = _read_snapshot(spark, snap, snap.files, schema=snap.schema)
            new_rows = new_rows_anti(b, existing, keys)
        else:
            new_rows = b
        # CHECK constraints gate the rows actually WRITTEN (the
        # anti-join survivors), Delta's write-time invariant scope.
        _enforce_constraints(new_rows, snap)
        # ONE action: stage the insert set; the row count comes from
        # the staged parquet footers (pyarrow metadata — no second plan
        # execution, no cache). On object storage this is a
        # footer-ranged read per file, still far cheaper than
        # recomputing the anti-join for a count().
        bloom_decl = _bloom_declaration(snap, keys)
        staged = _stage_files(new_rows, snap, partition_cols, bloom_cols=bloom_decl)
        if staged["n"] == 0:
            return 0, staged["add"], None
        return staged["n"], staged["add"], {
            **staged,
            "bloom_cols": bloom_decl,
            "schema": json.dumps(new_rows.schema.jsonValue()),
            "op": "MERGE APPEND",
        }

    return _transact(target_path, build, "merge_append", _pre_commit_hook)


def _stage_cdc_files_counted(
    cdc: DataFrame, snap: Snapshot
) -> tuple[dict[str, int], tuple[int, int, int]]:
    """Stage the typed change rows into ``_change_data/`` (underscore
    prefix: invisible to plain parquet readers and the data-file walk;
    physical column names on disk, ``table_changes`` translates back on
    read). Returns the staged files with their sizes, ``{path: bytes}``,
    and the (inserted, updated, deleted) change-type counts of what was
    staged — ONE vectorized dictionary-column read per staged file,
    bounded by changed rows per commit (never table size).

    Measured and REJECTED (r16): fusing the counts into the staging
    write with ``df.observe``/CollectMetrics. It works, and it removes
    this post-hoc pass — but PySpark's ``Observation`` initializes the
    session's lazy ``ObservationManager`` (Spark 4.1), which is NOT
    java-serializable, and from that point on ANY closure that captures
    the SparkSession fails with Task not serializable. MLlib does
    exactly that (a fitted model's training summary holds the session;
    scoring serializes it into the task closure), so one observed merge
    broke ``sentiment_scores`` for the rest of the session — a
    session-wide landmine, not a local trade-off. The named-observation
    form avoids the manager but leaves no handle to read the metrics
    of a writer's internal QueryExecution."""
    sizes = _stage_files(cdc, snap, subdir=_CDC_DIR)["sizes"]
    counts = _value_counts(snap.path, sizes, _CHANGE_COL)
    return sizes, (counts["insert"], counts["update_postimage"], counts["delete"])


def _value_counts(target_path: str, files: Iterable[str], col: str) -> Counter:
    """Row counts per value of column ``col`` over the table-relative
    parquet ``files`` — one single-column pyarrow read per file, no
    Spark job: change types of change-data files, target files of kill
    lists. Vectorized (pyarrow value_counts, r16) instead of a per-row
    Python loop."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: Counter = Counter()
    for rel in files:
        t = pq.read_table(os.path.join(target_path, rel), columns=[col])
        for entry in pc.value_counts(t.column(0)).to_pylist():
            out[entry["values"]] += entry["counts"]
    return out


def _stage_dml(
    snap: Snapshot,
    cdc: DataFrame,
    data: DataFrame | None = None,
    kill: DataFrame | None = None,
    bloom_cols: Sequence[str] | None = None,
):
    """The one tail of every DML commit: stage the typed change rows
    (counted), the rewritten or post-image data rows and the
    deletion-vector kill list when given. They are independent Spark
    actions, submitted concurrently so the commit pays the slowest
    write, not the sum (guide §2.6: the second job's tasks back-fill
    the first's straggler tail). Returns ``((inserted, updated,
    deleted), staged, actions)``: ``staged`` lists every file written
    and ``actions`` holds the manifest entries every DML commit shares
    (``add``, ``stats``, ``bloom``, ``sizes`` of the data and
    change-data files, ``cdc`` and ``dv``, the deletion-vector entry or
    None); the writer adds its own keys. ``bloom_cols`` overrides the
    table's index columns for the data files (:func:`_stage_files`)."""
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_dv = None if kill is None else pool.submit(_stage_files, kill, snap, subdir=_DV_DIR)
        f_data = None if data is None else pool.submit(
            _stage_files, data, snap, bloom_cols=bloom_cols
        )
        f_cdc = pool.submit(_stage_cdc_files_counted, cdc, snap)
        dv_staged = [] if f_dv is None else f_dv.result()["add"]
        added = (
            {"add": [], "stats": {}, "sizes": {}, "bloom": {}}
            if f_data is None
            else f_data.result()
        )
        cdc_sizes, counts = f_cdc.result()
    dv = None
    if kill is not None:
        masked = _value_counts(snap.path, dv_staged, "file")
        dv = {"add": dv_staged, "files": sorted(masked), "n": masked.total()}
    actions = {
        "add": added["add"],
        "stats": added["stats"],
        "bloom": added["bloom"],
        "sizes": {**added["sizes"], **cdc_sizes},
        "cdc": list(cdc_sizes),
        "dv": dv,
    }
    return counts, [*added["add"], *cdc_sizes, *dv_staged], actions


def _matched_slice(
    spark: SparkSession,
    snap: Snapshot,
    condition: Column,
    what: str,
    dv: bool = False,
):
    """The rows of ``snap`` matching ``condition`` — the first half of
    every predicate DML writer, for both physical strategies. Returns
    ``(remove, kill, matched, carried)``; ``([], None, None, None)``
    when the table is empty or, copy-on-write, when no file matches.

    Copy-on-write: ``remove`` lists the table-relative files holding a
    matched row (``what`` names the statement for the discovery cap),
    ``matched`` holds their matching rows and ``carried`` their other
    rows — a row whose condition is NULL is carried. ``kill`` is None.
    Deletion vector (``dv``): ``kill`` is the ``(file, row_index)``
    kill list masking the ``matched`` rows in place; ``remove`` is
    empty and ``carried`` None.

    The slice is materialized once (lazy localCheckpoint — the first
    staging action computes it, the others read the blocks): the
    writer's data, change-data and kill-list writes all branch from it,
    and without the checkpoint each re-ran the predicate scan (r16;
    the blocks are O(touched), the same bound as the writes). The scan
    is :func:`_read_snapshot` with lineage: DV-masked rows cannot
    re-match (they are already deleted), and file identity comes from
    the scan's own metadata."""
    if not snap.files:
        return [], None, None, None
    existing = _read_snapshot(
        spark, snap, snap.files, schema=snap.schema, keep_lineage=True
    )
    if dv:
        matched = existing.filter(condition).localCheckpoint(eager=False)
        uri_map = spark.createDataFrame(
            [(_file_uri(snap.path, f), f) for f in snap.files],
            "file_uri string, file string",
        )
        kill = (
            matched.select(
                F.col(_FP_COL).alias("file_uri"),
                F.col(_RI_COL).alias("row_index"),
            )
            .join(F.broadcast(uri_map), "file_uri")
            .select("file", "row_index")
        )
        return [], kill, matched.drop(_FP_COL, _RI_COL), None
    files = _matched_rel_files(
        existing.filter(condition).select(_FP_COL), os.path.abspath(snap.path), what
    )
    if not files:
        return [], None, None, None
    touched = _read_snapshot(spark, snap, files, schema=snap.schema).localCheckpoint(
        eager=False
    )
    cond_true = F.coalesce(condition, F.lit(False))
    return files, None, touched.filter(cond_true), touched.filter(~cond_true)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: Sequence[str],
    schema_evolution: bool = False,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> tuple[int, int]:
    """K2 full MERGE: ``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    THEN INSERT *`` on the parquet txlog — a batch row whose ``keys``
    exist in the target REWRITES that row; absent keys insert. Returns
    (inserted, updated). The reference's Databricks leg is exactly this
    shape (trigger_databricks_job.py:10 "load data from s3 into delta
    lake" = Delta MERGE upsert); :func:`merge_append` keeps the
    insert-if-absent contract of the Postgres workers.

    File-level copy-on-write, Delta's strategy: one key-only semi-join
    identifies the data files that contain matched keys; ONLY those
    files are rewritten (unmatched rows carried over, matched rows
    replaced by batch values), and the commit atomically records
    remove=<touched files> + add=<rewritten + insert files>. At 100 TB
    an upsert touching 50 files rewrites 50 files — O(matched data),
    never a table rewrite — and the touched-file discovery can prune
    further via zone maps before the join.

    TYPED CDC: the commit also writes ``_change_data`` parquet files
    holding the change rows — ``update_preimage`` (old values),
    ``update_postimage`` (new values), ``insert`` — which
    :func:`table_changes` and the streaming source replay; carried-over
    rows are NOT changes and never appear in the feed (the reason add
    files alone can't serve an upsert commit's feed).

    An update-update race serializes: the loser rebuilds on the
    winner's rows, last writer wins per key. Schema evolution is
    OPT-IN, the Delta MERGE contract: by default a batch column absent
    from the declared schema fails the writer; ``schema_evolution=True``
    (Delta's ``withSchemaEvolution``) unions new columns additively —
    carried-over and pre-evolution rows null-fill. A re-typed column
    fails the writer either way."""
    inserted, updated, _ = _merge_rows(
        spark,
        target_path,
        batch,
        keys,
        _pre_commit_hook=_pre_commit_hook,
        schema_evolution=schema_evolution,
    )
    return inserted, updated


def merge_sync(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: Sequence[str],
    delete_condition: Column | None = None,
    schema_evolution: bool = False,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> tuple[int, int, int]:
    """The FULL three-clause MERGE — Delta's

        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE [AND condition] THEN DELETE

    — i.e. "make the target match this snapshot": target rows whose
    ``keys`` are absent from the batch (and satisfy
    ``delete_condition``, default all of them) are DELETED; the rest
    upsert as in :func:`merge_upsert`. Returns (inserted, updated,
    deleted). The classic consumer is dimension-table sync from a
    source-system snapshot: rows the source dropped must disappear.

    ``delete_condition`` scopes the deletion (Delta's ``AND`` clause):
    pass e.g. ``F.col("region") == "eu"`` when the batch is a PARTIAL
    snapshot covering only that slice — without it a partial batch
    would delete everything outside its slice.

    Scale: the not-matched-by-source scan is inherently O(target) in
    discovery (every file may own stale rows — same as Delta), but only
    files that actually contain a matched or stale row are rewritten,
    and the per-file rewrite carries survivors via the same
    copy-on-write path as the upsert. TYPED CDC: stale rows land in the
    change feed as ``delete`` rows next to the upsert's
    insert/pre/post images — one commit, one atomic version."""
    return _merge_rows(
        spark,
        target_path,
        batch,
        keys,
        _pre_commit_hook=_pre_commit_hook,
        nmbs_delete=delete_condition
        if delete_condition is not None
        else F.lit(True),
        schema_evolution=schema_evolution,
    )


def merge_upsert_txn(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: Sequence[str],
    app_id: str,
    txn_ver: int,
    schema_evolution: bool = False,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> tuple[int, int]:
    """Idempotent transactional MERGE upsert — :func:`append_txn`'s
    at-most-once contract on the :func:`merge_upsert` write path: the
    batch upserts AT MOST ONCE per (app_id, txn_ver); a replay (same or
    older txn_ver) is a no-op returning (0, 0). This is the
    foreachBatch streaming-upsert sink's primitive (Delta's canonical
    ``foreachBatch { microBatch.merge(...) } + txnVersion``): a
    micro-batch replayed after checkpoint recovery must not double-
    apply, and with upserts key-level idempotence alone is NOT enough —
    a replayed batch would re-update rows a LATER batch already
    rewrote, resurrecting stale values; the txn ledger makes the replay
    structurally a no-op. The marker check runs on every commit
    attempt's snapshot (:func:`_transact`), so two racing instances of
    the same app cannot both land one transaction."""
    inserted, updated, _ = _merge_rows(
        spark,
        target_path,
        batch,
        keys,
        _pre_commit_hook=_pre_commit_hook,
        txn={"app": app_id, "version": txn_ver},
        schema_evolution=schema_evolution,
    )
    return inserted, updated


def merge_cdc_txn(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: Sequence[str],
    app_id: str,
    txn_ver: int,
    schema_evolution: bool = False,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> tuple[int, int, int]:
    """Apply a CHANGE-DATA batch to a table, exactly once — the CDC
    consumer's merge (Delta's documented foreachBatch pattern for
    readChangeFeed):

        WHEN MATCHED AND src._change_type = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND src._change_type <> 'delete' THEN INSERT *

    Rows tagged ``delete`` in ``_change_type`` delete their target keys
    (a delete for an absent key is a no-op — it may have never
    replicated); every other row upserts. The change column itself is
    not written. Returns (inserted, updated, deleted); idempotent per
    (app_id, txn_ver) like :func:`merge_upsert_txn` — the caller must
    reduce the batch to ONE change per key first (newest wins).

    The batch is pinned (unlike the other merges): a CDC batch usually
    arrives through the change-feed streaming source, whose reads run
    in Python workers — see the engine's ``apply_changes`` note."""
    return _merge_rows(
        spark,
        target_path,
        batch,
        keys,
        _pre_commit_hook=_pre_commit_hook,
        txn={"app": app_id, "version": txn_ver},
        schema_evolution=schema_evolution,
        apply_changes=True,
    )


def _merge_rows(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    keys: Sequence[str],
    _pre_commit_hook: Callable[[], None] | None = None,
    nmbs_delete: Column | None = None,
    txn: dict | None = None,
    schema_evolution: bool = False,
    apply_changes: bool = False,
) -> tuple[int, int, int]:
    """Shared MERGE engine behind :func:`merge_upsert` /
    :func:`merge_sync` / :func:`merge_upsert_txn` /
    :func:`merge_cdc_txn`: copy-on-write file-level rewrite with typed
    CDC. ``nmbs_delete`` adds the WHEN NOT MATCHED BY SOURCE THEN
    DELETE clause; ``txn`` makes the merge an (app, version)
    at-most-once transaction (:func:`_transact`). A merge that changes
    no row commits nothing, its marker included. A single-column key
    indexes itself as :func:`merge_append`'s does
    (:func:`_bloom_declaration`).

    ``apply_changes`` reads the batch as a change-data batch: rows whose
    ``_change_type`` is ``delete`` are DELETE DIRECTIVES (WHEN MATCHED
    AND cond THEN DELETE — the CDC-apply shape): their keys delete
    matching target rows instead of upserting, a directive with no
    match is a no-op, and the change column is not written. The batch
    is also materialized to JVM-local blocks (localCheckpoint) ONCE,
    before the engine's several actions over it (touched-file
    discovery, insert/update split, data + CDC staging). Without it
    each action re-executes the batch's plan — harmless for a
    parquet-backed batch, but a batch backed by a Python data source
    (the CDC change feed) then pays ~6 rounds of Python-worker forks
    per merge, whose cost scales with process RSS: the late-session
    inflation the round-15 micro-batch trace decomposed
    (docs/BENCH_METHOD.md). The pin runs in the build, on the first
    attempt the txn ledger admits, and CAS retries reuse it: a
    replayed epoch ends in :func:`_transact` before any build runs, so
    it executes the batch zero times."""
    key_cols = list(keys)
    batch = batch.dropDuplicates(key_cols)
    delete_keys = None
    nmbs_true = (
        F.coalesce(nmbs_delete, F.lit(False)) if nmbs_delete is not None else None
    )

    def build(snap: Snapshot):
        nonlocal batch, delete_keys
        if apply_changes and delete_keys is None:
            # Pin the DEDUPED batch: the key-dedup shuffle folds into
            # the one materialization instead of re-running on top of
            # the pinned blocks in every downstream action (discovery,
            # marker joins, both staging writes — optimization r16,
            # guide §2.4), and the pinned representative-per-key pick
            # is made exactly once rather than per-action.
            batch = batch.localCheckpoint(eager=True)
            is_directive = F.coalesce(F.col(_CHANGE_COL) == "delete", F.lit(False))
            delete_keys = batch.filter(is_directive).select(*key_cols)
            batch = batch.filter(~is_directive).drop(_CHANGE_COL)
        b = _apply_generated(batch, snap)
        declared = snap.schema
        _check_type_conflicts(b, snap)
        if not schema_evolution and declared is not None:
            # Delta's MERGE default: WITHOUT withSchemaEvolution a
            # source column absent from the target schema fails the
            # writer (UPDATE SET * / INSERT * cannot bind it); pass
            # schema_evolution=True to union new columns additively
            # (the append path's behavior, and Delta's opt-in).
            new_cols = [
                f.name
                for f in _to_physical(b, snap).schema.fields
                if f.name not in {x.name for x in declared.fields}
            ]
            if new_cols:
                raise ValueError(
                    f"MERGE batch has columns {new_cols} not in the "
                    f"declared schema at {target_path}; pass "
                    "schema_evolution=True to evolve additively "
                    "(Delta's withSchemaEvolution)"
                )
        # Every batch row is written (as insert or update post-image) —
        # the whole batch is in CHECK-constraint scope.
        _enforce_constraints(b, snap)
        matched_files: list[str] = []
        cdc_batch = b.withColumn(_CHANGE_COL, F.lit("insert"))
        preimage = carried = dels = None
        if snap.files:
            # _read_snapshot: rows masked by deletion vectors are not
            # part of the table — their keys INSERT (not update), and
            # they never carry over into rewritten files. keep_lineage
            # gives per-row file identity for touched-file discovery.
            existing = _read_snapshot(
                spark, snap, snap.files, schema=declared, keep_lineage=True
            )
            # Touched-file discovery: distinct files owning matched keys.
            # Driver-side list bounded by #files, computed from a
            # key-column semi-join (the scan reads key columns only).
            batch_keys = b.select(*key_cols)
            all_keys = (
                batch_keys
                if delete_keys is None
                else batch_keys.unionByName(delete_keys)
            )
            owners = existing.join(
                all_keys, on=key_cols, how="left_semi"
            ).select(_FP_COL)
            if nmbs_true is not None:
                # WHEN NOT MATCHED BY SOURCE: files owning stale rows
                # (absent from the batch, condition true) are touched
                # too — their survivors carry over, stale rows drop.
                owners = owners.unionByName(
                    existing.join(batch_keys, key_cols, "left_anti")
                    .filter(nmbs_true)
                    .select(_FP_COL)
                )
            root = os.path.abspath(target_path)
            matched_files = _matched_rel_files(owners, root, "MERGE")
            # ONE marker left-join replaces the former anti/semi pair:
            # inserts ∪ updates is EXACTLY the deduped batch (the two
            # joins partitioned it by key-match), so the DATA write
            # needs no join on the batch side at all, and the CDC
            # write derives each batch row's change type from a single
            # distinct-key left join (optimization r15, guide
            # §2.3/§2.4: fewer passes, fewer shuffled bytes). No file
            # owning a batch key ⇒ nothing in the snapshot matches:
            # every batch row is an insert, no join needed.
            if matched_files:
                touched = _read_snapshot(spark, snap, matched_files, schema=declared)
                # Partition the touched rows in ONE pass (left-join
                # markers) instead of one semi/anti join per branch:
                # in-batch → update_preimage; delete-directive or
                # stale (nmbs) → delete; the rest carry over. The
                # marker join's build side is the TOUCHED slice, never
                # a second full-snapshot pass: every snapshot row whose
                # key matches a batch key lives in a matched file (that
                # is what touched-file discovery computed), so
                # touched ∩ batch = snapshot ∩ batch (optimization r15
                # batch 3, guide §2.3).
                t2 = touched.join(
                    batch_keys.withColumn(_MARK_MB, F.lit(True)),
                    key_cols,
                    "left",
                )
                if delete_keys is not None:
                    t2 = t2.join(
                        delete_keys.withColumn(_MARK_MD, F.lit(True)),
                        key_cols,
                        "left",
                    )
                else:
                    t2 = t2.withColumn(_MARK_MD, F.lit(None).cast("boolean"))
                # Materialize the marked touched slice ONCE (lazy
                # localCheckpoint — the first staging action computes
                # it, the second reads the blocks): the data and CDC
                # staging writes both branch from it, and without the
                # checkpoint each write re-ran the touched parquet
                # scan and the marker joins — 2× O(touched) work per
                # commit (optimization r16, guide §2.4/§5: don't
                # recompute a shared subtree across actions; the
                # blocks are O(touched files), the same bound as the
                # rewrite itself). Measured r16 (min-of-N phase
                # benches): −0.5 s on the ~30k-row index merges,
                # ~+0.1-0.3 s on few-KB stream micro-batch merges
                # (block-lock serialization of the overlapped writes);
                # suite-level net positive, and the duplicated touched
                # scan is exactly what must not happen at 100 TB.
                t2 = t2.localCheckpoint(eager=False)
                in_batch = F.col(_MARK_MB).isNotNull()
                is_del = F.col(_MARK_MD).isNotNull()
                if nmbs_true is not None:
                    is_del = is_del | nmbs_true
                preimage = t2.filter(in_batch).drop(_MARK_MB, _MARK_MD)
                carried = t2.filter(~in_batch & ~is_del).drop(_MARK_MB, _MARK_MD)
                if nmbs_true is not None or delete_keys is not None:
                    dels = t2.filter(~in_batch & is_del).drop(_MARK_MB, _MARK_MD)
                else:
                    dels = None
                # The batch-side change types need exactly the matched
                # KEY SET, which the checkpointed slice already carries
                # (_MARK_MB rows) — derive it there instead of
                # re-scanning the touched files a third time.
                key_marks = (
                    t2.filter(in_batch)
                    .select(*key_cols)
                    .dropDuplicates(key_cols)
                    .withColumn(_MARK_M, F.lit(True))
                )
                cdc_batch = (
                    b.join(key_marks, key_cols, "left")
                    .withColumn(
                        _CHANGE_COL,
                        F.when(
                            F.col(_MARK_M).isNull(), F.lit("insert")
                        ).otherwise(F.lit("update_postimage")),
                    )
                    .drop(_MARK_M)
                )

        new_data = b
        if carried is not None:
            new_data = new_data.unionByName(carried, allowMissingColumns=True)
        cdc = cdc_batch
        if preimage is not None:
            cdc = cdc.unionByName(
                preimage.withColumn(_CHANGE_COL, F.lit("update_preimage")),
                allowMissingColumns=True,
            )
        if dels is not None:
            cdc = cdc.unionByName(
                dels.withColumn(_CHANGE_COL, F.lit("delete")),
                allowMissingColumns=True,
            )
        bloom_decl = _bloom_declaration(snap, key_cols)
        counts, staged, actions = _stage_dml(snap, cdc, new_data, bloom_cols=bloom_decl)
        if counts == (0, 0, 0):
            return counts, staged, None
        return counts, staged, {
            **actions,
            "bloom_cols": bloom_decl,
            "n": counts[0] + counts[1],
            "remove": matched_files,
            "schema": json.dumps(new_data.schema.jsonValue()),
            "op": "MERGE",
        }

    return _transact(target_path, build, "merge", _pre_commit_hook, txn) or (0, 0, 0)


def delete_where(
    spark: SparkSession,
    target_path: str,
    condition: Column,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> int:
    """Delta ``DELETE FROM target WHERE condition`` on the parquet
    txlog — the third leg of the MERGE contract (insert:
    :func:`merge_append`, update: :func:`merge_upsert`). Returns the
    number of rows deleted.

    File-level copy-on-write: only the files that CONTAIN matching rows
    are rewritten (their surviving rows carried over); the commit
    atomically records remove=<touched files> + add=<rewritten files>,
    so O(matched data) at 100 TB, never a table rewrite — and a
    predicate on a zone-mapped column touches only the files whose
    stats admit it. TYPED CDC: the commit writes ``_change_data``
    files tagging every removed row ``delete``, which
    :func:`table_changes` and the streaming source replay (Delta CDF's
    delete rows)."""
    return _delete(spark, target_path, condition, _pre_commit_hook, dv=False)


def _delete(
    spark: SparkSession,
    target_path: str,
    condition: Column,
    hook: Callable[[], None] | None,
    dv: bool,
) -> int:
    """The one DELETE build behind :func:`delete_where` (copy-on-write)
    and :func:`delete_where_dv` (deletion vector): both commit the same
    typed ``delete`` change rows and return their count."""

    def build(snap: Snapshot):
        remove, kill, matched, carried = _matched_slice(
            spark, snap, condition, "DELETE", dv
        )
        if matched is None:
            return 0, [], None
        (_, _, n_deleted), staged, actions = _stage_dml(
            snap, matched.withColumn(_CHANGE_COL, F.lit("delete")), carried, kill
        )
        if n_deleted == 0:
            return 0, staged, None
        return n_deleted, staged, {
            **actions,
            "remove": remove,
            "schema": json.dumps(matched.schema.jsonValue())
            if snap.schema is None
            else None,
            "op": "DELETE",
        }

    return _transact(
        target_path, build, "delete_where_dv" if dv else "delete_where", hook
    )


def overwrite_where(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    condition: Column,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> tuple[int, int]:
    """Delta's ``replaceWhere`` — predicate-scoped atomic overwrite:
    ONE commit deletes every target row matching ``condition`` and
    inserts the batch in its place. Returns (inserted, deleted). The
    canonical consumer is idempotent partition/date reprocessing:
    "recompute day X and swap it in" — re-running the job lands the
    same final state, and readers never observe the day half-swapped
    (the all-or-nothing guarantee a delete-then-append pair cannot
    give: a reader between the two commits would see the day missing).

    Delta's guard, enforced here too: every batch row must satisfy
    ``condition`` (else the "replace" would silently leak rows outside
    the replaced region — raises before any write). TYPED CDC: the
    commit stages ``delete`` rows for the replaced region and
    ``insert`` rows for the batch, so the feed replays the swap
    exactly.

    Scale: file-level copy-on-write — only files CONTAINING matching
    rows are rewritten (survivors carried over), the batch appends as
    new files; a predicate on a zone-mapped or partition column
    touches O(replaced data), never the table."""
    n_bad = batch.filter(
        ~F.coalesce(condition, F.lit(False))
    ).count()
    if n_bad:
        raise ValueError(
            f"replaceWhere violation: {n_bad} batch row(s) do not satisfy "
            "the overwrite condition — the batch must stay inside the "
            "region it replaces"
        )

    def build(snap: Snapshot):
        b = _apply_generated(batch, snap)
        _check_type_conflicts(b, snap)
        _enforce_constraints(b, snap)
        remove, _, matched, carried = _matched_slice(
            spark, snap, condition, "overwrite_where"
        )
        data = b
        cdc = b.withColumn(_CHANGE_COL, F.lit("insert"))
        if matched is not None:
            data = data.unionByName(carried, allowMissingColumns=True)
            cdc = cdc.unionByName(
                matched.withColumn(_CHANGE_COL, F.lit("delete")),
                allowMissingColumns=True,
            )
        (inserted, _, deleted), staged, actions = _stage_dml(snap, cdc, data)
        if inserted == 0 and deleted == 0:
            return (0, 0), staged, None
        return (inserted, deleted), staged, {
            **actions,
            "n": inserted,
            "remove": remove,
            "schema": json.dumps(data.schema.jsonValue()),
            "op": "REPLACE WHERE",
        }

    return _transact(target_path, build, "overwrite_where", _pre_commit_hook)


def _updated_frame(
    changed: DataFrame, set_exprs: dict[str, Column], snap: Snapshot
) -> tuple[DataFrame, DataFrame]:
    """Apply UPDATE SET expressions to the matched rows (expressions
    see the PRE-image values, standard UPDATE semantics), recompute
    any generated column not explicitly set (its sources may have
    changed), and validate constraints + generated definitions on the
    post-image. Returns the post-images and the typed change rows
    (update_preimage + update_postimage pairs)."""
    updated = changed
    for name, expr in set_exprs.items():
        updated = updated.withColumn(name, expr)
    for gname, gexpr in snap.generated.items():
        if gname not in set_exprs and gname in updated.columns:
            updated = updated.withColumn(gname, F.expr(gexpr))
    updated = _apply_generated(updated, snap)
    _enforce_constraints(updated, snap)
    cdc = changed.withColumn(_CHANGE_COL, F.lit("update_preimage")).unionByName(
        updated.withColumn(_CHANGE_COL, F.lit("update_postimage")),
        allowMissingColumns=True,
    )
    return updated, cdc


def update_where(
    spark: SparkSession,
    target_path: str,
    set_exprs: dict[str, Column],
    condition: Column,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> int:
    """Delta ``UPDATE target SET col = expr, ... WHERE condition`` —
    file-level copy-on-write: only files CONTAINING matching rows are
    rewritten (survivors carried over, matched rows replaced by their
    post-images; SET expressions evaluate against the PRE-image row).
    Returns the number of rows updated. Generated columns not named in
    SET are recomputed (their sources may change); CHECK constraints
    validate the post-images; TYPED CDC records update_preimage +
    update_postimage pairs, exactly as a key-merge would.

    Scale: O(matched data) — a predicate on a zone-mapped column opens
    only the files whose stats admit it; see :func:`update_where_dv`
    for the merge-on-read variant that avoids rewriting unmatched
    neighbors entirely."""
    return _update(spark, target_path, set_exprs, condition, _pre_commit_hook, dv=False)


def update_where_dv(
    spark: SparkSession,
    target_path: str,
    set_exprs: dict[str, Column],
    condition: Column,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> int:
    """Merge-on-read ``UPDATE ... WHERE`` — ONE commit that (a) masks
    the matched rows in place via a deletion-vector kill list and (b)
    adds a new file holding their post-images. Returns the number of
    rows updated. At 100 TB this is the cheap-update path: updating k
    scattered rows costs O(k) write I/O (kill list + post-image file),
    never a rewrite of the unmatched neighbors copy-on-write drags
    along — Delta's DV-backed UPDATE. Readers already compose the two
    halves (adds are visible, masks hide the pre-images) and the next
    compaction folds them together. TYPED CDC: update_preimage +
    update_postimage, indistinguishable from the copy-on-write
    variant (the CDF contract)."""
    return _update(spark, target_path, set_exprs, condition, _pre_commit_hook, dv=True)


def _update(
    spark: SparkSession,
    target_path: str,
    set_exprs: dict[str, Column],
    condition: Column,
    hook: Callable[[], None] | None,
    dv: bool,
) -> int:
    """The one UPDATE build behind :func:`update_where` (copy-on-write:
    post-images and carried rows replace the touched files) and
    :func:`update_where_dv` (deletion vector: the pre-images are masked
    and the post-images added) — the same typed change rows either
    way."""

    def build(snap: Snapshot):
        remove, kill, matched, carried = _matched_slice(
            spark, snap, condition, "UPDATE", dv
        )
        if matched is None:
            return 0, [], None
        data, cdc = _updated_frame(matched, set_exprs, snap)
        if carried is not None:
            data = data.unionByName(carried, allowMissingColumns=True)
        (_, n_updated, _), staged, actions = _stage_dml(snap, cdc, data, kill)
        if n_updated == 0:
            return 0, staged, None
        return n_updated, staged, {
            **actions,
            "n": n_updated,
            "remove": remove,
            "schema": json.dumps(data.schema.jsonValue()),
            "op": "UPDATE",
        }

    return _transact(
        target_path, build, "update_where_dv" if dv else "update_where", hook
    )


def delete_where_dv(
    spark: SparkSession,
    target_path: str,
    condition: Column,
    _pre_commit_hook: Callable[[], None] | None = None,
) -> int:
    """Merge-on-read ``DELETE FROM target WHERE condition`` — Delta
    deletion vectors / Iceberg positional delete files on the parquet
    txlog. Instead of rewriting every file that contains a matching row
    (:func:`delete_where`'s copy-on-write), the commit records a KILL
    LIST: ``(file, row_index)`` parquet rows under
    ``_deletion_vectors/``, found via the scan's own ``_metadata``
    struct. Every reader (:func:`_read_snapshot`) anti-joins the
    broadcast kill list, so the rows vanish atomically at commit; no
    data file is touched. Returns the number of rows deleted.

    This is the point-delete scale path: deleting 100 rows from a
    100 TB table costs O(matched rows) write I/O — not O(matched
    FILES) like copy-on-write, which rewrites a whole file to drop one
    row (GDPR erasure, late-arriving retractions). The read-side tax
    (a broadcast hash anti-join keyed on file+row-index) is bounded by
    accumulated deletes and is reclaimed by the next ``compact()`` or
    any rewrite of the masked files, which read the DV-filtered view
    and drop the file's DV entries with the file — Delta's
    write-amplification/read-amplification trade, chosen per-statement
    here exactly as ``spark.databricks.delta.delete.deletionVectors``
    chooses it per-table.

    TYPED CDC: the commit stages ``delete`` change rows for the masked
    rows, so :func:`table_changes` and the streaming source replay a
    merge-on-read delete identically to a copy-on-write one —
    consumers cannot tell the physical strategies apart (the CDF
    contract). A delete that loses its commit race to a compaction
    re-targets the compaction's new files."""
    return _delete(spark, target_path, condition, _pre_commit_hook, dv=True)


_MAX_FILE_LIST = 1_000_000


def _matched_rel_files(fp_rows: DataFrame, root: str, what: str) -> list[str]:
    """Driver-side matched-file discovery shared by MERGE / UPDATE /
    DELETE / overwrite_where: collect the DISTINCT ``_FP_COL`` file
    pointers of predicate-matched rows and map them to log-relative
    paths. The relation is file-level metadata — bounded by the
    table's committed file count, never its row count — and the cap is
    a tripwire (VERDICT r12 observation) so a future edit that
    accidentally collects a row-level relation here fails loud instead
    of materializing the table on the driver. A genuinely >10^6-file
    table has outgrown this txlog's driver-side manifest design
    (docs/SCALE.md known limits): compact it, or raise the constant
    deliberately."""
    rows = fp_rows.distinct().limit(_MAX_FILE_LIST + 1).collect()
    if len(rows) > _MAX_FILE_LIST:
        raise AssertionError(
            f"matched-file discovery ({what}) exceeded {_MAX_FILE_LIST} "
            "distinct file pointers — not file-level metadata, or the "
            "table has outgrown the driver-side manifest design"
        )
    return sorted({_uri_to_rel(r[0], root) for r in rows})


def _uri_to_rel(uri: str, root: str) -> str:
    """input_file_name() URI → table-relative path (file:///a%20b/x.parquet
    → x.parquet)."""
    from urllib.parse import unquote, urlparse

    p = unquote(urlparse(uri).path or uri)
    return os.path.relpath(p, root)


def conform(df: DataFrame, schema) -> DataFrame:
    """K6: enforce a declared table contract before writing — the
    parquet-path stand-in for DDL. The reference pins its layout with
    ``create_hypertable('stock_bars','timestamp')`` + SQLAlchemy column
    types (migration.py:30-36); on Delta/Iceberg that is ``CREATE TABLE
    ... PARTITIONED BY (...)``. Plain parquet has no catalog, so the
    contract is enforced at write time instead: every schema column
    must exist, is cast to the declared type, and extras are dropped.
    Raises on missing columns rather than writing a drifted table."""
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    if missing:
        raise ValueError(f"schema contract violated, missing columns: {missing}")
    return df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])


def ensure_table(
    spark: SparkSession,
    name: str,
    schema,
    path: str,
    partition_cols: Sequence[str] = (),
) -> None:
    """K6 proper: REAL catalog DDL for the time-partitioned table
    contract — the Spark respec of the reference's ``create_all`` +
    ``create_hypertable('stock_bars','timestamp')`` (migration.py:11-46).

    ``CREATE TABLE IF NOT EXISTS ... USING parquet PARTITIONED BY (...)
    LOCATION path`` registers the declared contract in the session
    catalog, making the path-written data a first-class SQL table with
    partition pruning; ``MSCK REPAIR`` recovers partitions that
    path-based writers (write_partitioned / upsert_bars) added outside
    the catalog. On Delta/Iceberg the same call is ``USING delta`` and
    the repair step disappears (the log tracks partitions). The
    declared ``schema`` must include the partition columns."""
    missing = [c for c in partition_cols if c not in {f.name for f in schema.fields}]
    if missing:
        raise ValueError(f"partition columns absent from declared schema: {missing}")
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    part = f" PARTITIONED BY ({', '.join(partition_cols)})" if partition_cols else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet{part} LOCATION '{path}'"
    )
    if partition_cols:
        spark.sql(f"MSCK REPAIR TABLE {name}")


def upsert_bars(
    spark: SparkSession,
    target_path: str,
    bars: DataFrame,
    companies: DataFrame,
    ticker_col: str = "ticker",
    ts_col: str = "bar_ts",
) -> int:
    """K5: resolve ticker→company_id via broadcast dim join (inner =
    skip unknown tickers, loading.py:330-333), derive the ``bar_date``
    partition column (K6 hypertable layout), then idempotent
    merge-append on the composite (company_id, ts) unique key
    (models/stock_bar.py:20-22)."""
    resolved = broadcast_enrich(
        bars,
        companies.select(F.col(ticker_col), F.col("id").alias("company_id")),
        ticker_col,
        "inner",
    ).withColumn("bar_date", F.to_date(F.col(ts_col)))
    return merge_append(
        spark, target_path, resolved, ["company_id", ts_col], partition_cols=["bar_date"]
    )
