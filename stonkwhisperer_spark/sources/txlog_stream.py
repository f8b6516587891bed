"""The parquet transaction log as a first-class STREAMING source: a
Spark 4 Python Data Source whose offsets are txlog commit versions, so
``spark.readStream`` tails a merge-append table's change-data feed —

    spark.dataSource.register(TxlogChangeFeedDataSource)
    (spark.readStream.format("stonkw_txlog_cdc")
         .option("path", table_path)
         .option("startingVersion", 3)   # inclusive, as in Delta
         .load())

This is the piece that turns the K2 table format (sinks/writers.py) into
a streamable source without rescanning history (the reference's daily
batch re-poll, flows/news_etl_flow.py, is the contract being replaced):
each micro-batch covers a half-open commit-version range (start, end],
reads ONLY the parquet files those commits added (or, for
upsert/delete commits, their ``_change_data`` files), skips compaction
rewrites (same rule as :func:`sinks.writers.table_changes`), and tags
every row with ``_change_type`` (insert / update_preimage /
update_postimage / delete — Delta CDF's column) and its originating
commit as ``_commit_version``.

Scale posture: this is the full ``DataSourceStreamReader`` — offset
resolution and partition planning are driver-side O(#commits) metadata
reads, while the DATA plane packs the polled commits' files into
byte-bounded InputPartitions (``maxPartitionBytes`` /
``openCostInBytes``, defaults mirroring Spark's own scan splits),
executed on executors as Arrow RecordBatch reads. A 100 TB table whose
poll window added 50 large files schedules ~one task per target-bytes
and touches nothing else; a near-empty poll schedules ONE task instead
of one worker fork per tiny file. Exactly-once = offset log (version ranges are replayed
deterministically via ``partitions(start, end)``) + an idempotent
downstream sink, the same discipline as streaming/jobs.py.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from stonkwhisperer_spark.sinks.writers import (
    Snapshot,
    _commit_ts,
    _committed_version,
    committed_files,
)

VERSION_COL = "_commit_version"
CHANGE_COL = "_change_type"

_SUFFIX = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _parse_bytes(value, option: str) -> int:
    """Byte-count option parser accepting plain integers and Spark's
    size-suffix strings (``"128m"``, ``"4mb"``, ``"1g"`` — the form the
    option names invite, since they mirror Spark configs). Raises a
    message naming the option instead of a bare int() ValueError."""
    if isinstance(value, int):
        return value
    s = str(value).strip().lower()
    body = s[:-1] if s.endswith("b") and len(s) > 1 else s
    mult = 1
    if body and body[-1] in _SUFFIX:
        mult = _SUFFIX[body[-1]]
        body = body[:-1]
    try:
        return int(body) * mult
    except ValueError:
        raise ValueError(
            f"{option} must be an integer byte count or a size string "
            f"like '128m' / '4mb', got {value!r}"
        ) from None


class _FilePartition(InputPartition):
    """One scheduled read task: a byte-bounded GROUP of committed files
    (each entry ``(path, version, cdc)``), packed in commit order like
    Spark's own file-scan splits (``maxPartitionBytes`` +
    ``openCostInBytes``). A tiny poll window — the streaming gates'
    shape, and any low-latency trigger's — schedules ONE task instead
    of one per near-empty file (each Python-source task forks a worker,
    the dominant fixed cost of a small micro-batch), while a catch-up
    window over large files still fans out to one task per ~target
    bytes (optimization r15, guide §6/§2.2)."""

    def __init__(self, files: list[tuple[str, int, bool]]):
        self.files = files


def _table_schema(path: str) -> StructType:
    """Spark schema of the committed table: the LOG's evolved union
    schema when commits recorded one (see writers.table_schema — the
    authoritative source once schema evolution exists, and no footer
    round-trip), else ONE committed file's parquet footer as the
    pre-evolution fallback (no Spark job, no full scan)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from stonkwhisperer_spark.sinks.writers import table_schema

    evolved = table_schema(path)
    if evolved is not None:
        return evolved
    files = committed_files(path)
    if not files:
        raise ValueError(
            f"cannot infer schema: no committed files at {path} "
            "(pass .schema(...) explicitly for a pre-creation subscription)"
        )
    arrow = pq.ParquetFile(os.path.join(path, files[0])).schema_arrow
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


class _TxlogStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        from pyspark.sql.pandas.types import to_arrow_schema

        opts = {k.lower(): v for k, v in options.items()}
        self._path = opts["path"]
        # startingVersion is INCLUSIVE, matching Delta's option of the
        # same name (consumers porting Delta code must not silently
        # lose the first commit's rows). Offsets remain half-open
        # (start, end] internally, so the inclusive lower bound is
        # startingVersion - 1; the default (1) subscribes from the
        # table's first commit.
        snap = Snapshot(self._path)
        if "startingtimestamp" in opts:
            # Delta's startingTimestamp: subscribe from the FIRST commit
            # whose timestamp is >= the instant (changes at or after it);
            # if every commit predates it, subscribe to future commits
            # only. Mutually exclusive with startingVersion, as in Delta.
            if "startingversion" in opts:
                raise ValueError(
                    "pass startingVersion OR startingTimestamp, not both"
                )
            ts = int(opts["startingtimestamp"])
            first = next(
                (
                    c["version"]
                    for c in snap.commits
                    if _commit_ts(self._path, c) >= ts
                ),
                snap.version + 1,
            )
            self._start = first - 1
        else:
            self._start = int(opts.get("startingversion", 1)) - 1
        # maxCommitsPerTrigger: advance at most N versions per
        # micro-batch — the txlog analog of Delta/file-source
        # maxFilesPerTrigger and SURVEY §2.9's source-rate-limiting row
        # (the reference polls newest-first LIMIT 100,
        # extraction.py:116-119). Without it, a catch-up subscription on
        # a long-history table plans EVERY commit into one giant batch.
        # Use ONLY with a processingTime trigger +
        # streaming.jobs.drain_until_caught_up: no availableNow path
        # honors a hand-rolled rate limit — the plain bridge downgrades
        # to one micro-batch (one slice, silent stop-short) and the
        # triggerAvailableNowWrapper captures the FIRST latestOffset()
        # slice as its final target (same stop-short; pinned by
        # tests/test_streaming.py). Unratelimited subscriptions get
        # true availableNow via enable_available_now_wrapper +
        # run_available_now, which asserts the drain covered the head.
        raw = opts.get("maxcommitspertrigger")
        self._max_commits = int(raw) if raw is not None else None
        if self._max_commits is not None and self._max_commits < 1:
            raise ValueError("maxCommitsPerTrigger must be >= 1")
        # Scan-split sizing for the data plane (defaults mirror Spark's
        # spark.sql.files.maxPartitionBytes / openCostInBytes): a poll
        # window's files pack into ~maxPartitionBytes read tasks instead
        # of one task per file. Production tunes these per cluster; the
        # defaults keep small polls single-task and big catch-ups
        # parallel. Spark-style byte-suffix strings ("128m", "4mb") are
        # accepted like the configs these options mirror.
        self._max_part_bytes = _parse_bytes(
            opts.get("maxpartitionbytes", 128 * 1024 * 1024),
            "maxPartitionBytes",
        )
        self._open_cost_bytes = _parse_bytes(
            opts.get("opencostinbytes", 4 * 1024 * 1024),
            "openCostInBytes",
        )
        if self._max_part_bytes < 1 or self._open_cost_bytes < 0:
            raise ValueError(
                "maxPartitionBytes must be >= 1 and openCostInBytes >= 0"
            )
        snap.check_horizon(self._start, f"startingVersion {self._start + 1}")
        self._current = self._start
        # Field order + arrow types of the OUTPUT schema; the change and
        # version columns are appended by read(), the rest come from the
        # parquet files — files written before a schema evolution may
        # lack some fields, which read() null-fills at declared types.
        data_schema = StructType(
            [f for f in schema.fields if f.name not in (VERSION_COL, CHANGE_COL)]
        )
        self._fields = [f.name for f in data_schema.fields]
        # Column mapping: the output schema is LOGICAL, the parquet
        # files store PHYSICAL names — read() projects physical and
        # emits logical (snapshot of the mapping at subscription time;
        # a restart re-resolves it).
        self._phys = {n: snap.colmap.get(n, n) for n in self._fields}
        self._arrow_schema = to_arrow_schema(data_schema)

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        head = _committed_version(self._path)
        if self._max_commits is None:
            return {"version": head}
        # Rate-limited: advance ≤ maxCommitsPerTrigger versions past the
        # last planned end-offset. After a checkpoint restart the true
        # start arrives via partitions(start, end), which re-syncs
        # self._current — an early under-estimate here just yields one
        # empty catch-up batch, never data loss (offsets are replayed
        # from the checkpoint, not from this counter).
        self._current = min(head, self._current + self._max_commits)
        return {"version": self._current}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._current = max(self._current, start["version"], end["version"])
        entries: list[tuple[str, int, bool, int | None]] = []
        feed = Snapshot(self._path, end["version"]).changes(start["version"])
        for c, is_cdc, files in feed:
            # File sizes come from the commit manifest (recorded at
            # write time, r16): zero per-poll stat syscalls for commits
            # that carry them, and replay-stable packing even after a
            # vacuum reclaims a file that a later re-plan could no
            # longer stat. Pre-r16 commits fall back to one driver stat
            # per file per poll (the r15 behavior).
            sizes = c.get("sizes", {})
            entries.extend(
                (os.path.join(self._path, rel), c["version"], is_cdc, sizes.get(rel))
                for rel in files
            )
        # Pack files into byte-bounded groups, in commit order (greedy,
        # deterministic: sizes are log metadata, so a replayed offset
        # range re-plans identical groups as long as its commits record
        # sizes; a legacy commit's stat-fallback sizes are stable while
        # the files remain statable). Matches Spark's FilePartition
        # packing: each file is charged size + openCost, so thousands
        # of tiny files still bound the per-task file count AND many
        # medium files keep Spark's open-cost headroom, and a group
        # closes at maxPartitionBytes. One near-empty-commit poll ⇒ 1
        # task; a catch-up over big files ⇒ ~1 task per target-bytes.
        parts: list[InputPartition] = []
        group: list[tuple[str, int, bool]] = []
        group_bytes = 0
        for path, version, cdc, sz in entries:
            if sz is None:
                try:
                    sz = os.path.getsize(path)
                except OSError:
                    sz = self._max_part_bytes  # unstatable: isolate it
            cost = sz + self._open_cost_bytes
            if group and group_bytes + cost > self._max_part_bytes:
                parts.append(_FilePartition(group))
                group, group_bytes = [], 0
            group.append((path, version, cdc))
            group_bytes += cost
        if group:
            parts.append(_FilePartition(group))
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        # Executor-side data plane: stream each of the group's files as
        # Arrow batches, project to the declared field order
        # (null-filling fields a file predates — additive schema
        # evolution), cast to the declared types, append the change tag
        # (from the file for change-data files, literal 'insert' for
        # add files) and the commit tag.
        import pyarrow as pa
        import pyarrow.parquet as pq

        for path, version, cdc in partition.files:
            pf = pq.ParquetFile(path)
            present = set(pf.schema_arrow.names)
            want = [
                self._phys[n] for n in self._fields if self._phys[n] in present
            ]
            if cdc:
                want = want + [CHANGE_COL]
            for batch in pf.iter_batches(columns=want):
                arrays = []
                for name in self._fields:
                    typ = self._arrow_schema.field(name).type
                    pname = self._phys[name]
                    if pname in present:
                        arr = batch.column(pname)
                        if arr.type != typ:
                            arr = arr.cast(typ)
                        arrays.append(arr)
                    else:
                        arrays.append(pa.nulls(batch.num_rows, typ))
                if cdc:
                    change = batch.column(CHANGE_COL)
                    if change.type != pa.string():
                        change = change.cast(pa.string())
                else:
                    change = pa.array(["insert"] * batch.num_rows, pa.string())
                arrays.append(change)
                arrays.append(
                    pa.array([version] * batch.num_rows, pa.int64())
                )
                yield pa.RecordBatch.from_arrays(
                    arrays, self._fields + [CHANGE_COL, VERSION_COL]
                )

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; the txlog needs nothing


class TxlogChangeFeedDataSource(DataSource):
    """``format("stonkw_txlog_cdc")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "stonkw_txlog_cdc"

    def schema(self) -> StructType:
        base = _table_schema(self.options["path"])
        return StructType(
            [
                *base.fields,
                StructField(CHANGE_COL, StringType(), False),
                StructField(VERSION_COL, LongType(), False),
            ]
        )

    def streamReader(self, schema: StructType) -> _TxlogStreamReader:
        return _TxlogStreamReader(schema, dict(self.options))
