"""The benchmark's two workloads, each one client in a closed loop.

``setup`` makes the inputs with the seeded generator and prepares state;
``step`` runs one unit of work (a trading day, a stream episode);
``pair`` runs one new unit twice from the same table state, once plain
and once traced, and returns both walls; ``finish`` ends the run and
names the committed tables for the output checks. A unit appends the latencies of the
workload's main operation to ``ctx.op`` and of its second operation to
``ctx.op2``:

* daily_ingest: op = one day's news, posts and bars flows on a new day,
  op2 = one range read of the committed bars table; each day ends with
  three range and three point reads; after the loop the last day is
  replayed once, and must insert 0 rows;
* stream_ingest: op = one micro-batch draining a fresh backlog into a
  fresh table, op2 = one point read by url of the table the drain built
  (many small commits, no bloom index).

A traced unit calls the same public functions with a span around each
layer call they make: the program's modules look those calls up at call
time, so the benchmark swaps in span-opening wrappers for the unit's
duration. A lazy plan does its work wherever it is first executed, so
the wrappers of the batch read and clean calls persist and count their
result inside the span; the spans give the per-layer numbers.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from gen import Landing, Traffic, minute_ts
from checks import Ledger
from spans import Tracer
from stonkwhisperer_spark import flows
from stonkwhisperer_spark.functions.text import clean_text_for_nlp
from stonkwhisperer_spark.schemas import RAW_NEWS_SCHEMA
from stonkwhisperer_spark.sinks import writers
from stonkwhisperer_spark.streaming import jobs

KINDS = ("news", "posts", "bars")
KEYS = {"news": ["url"], "posts": ["reddit_id"], "bars": ["company_id", "bar_ts"]}
DRAIN_TIMEOUT_S = 120


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tr: Tracer
    led: Ledger = field(default_factory=Ledger)
    op: list[float] = field(default_factory=list)
    op2: list[float] = field(default_factory=list)
    rows: int = 0          # rows the main operation committed
    rows_s: float = 0.0    # seconds those rows took
    count: dict[str, float] = field(default_factory=lambda: defaultdict(float))  # traced units only


@dataclass
class Table:
    name: str
    path: str
    keys: list[str]
    rows: int
    company_ids: list[str] | None = None


def _span(ctx: Ctx, traced: bool, layer: str, call: str, jobs: bool = True):
    return ctx.tr.span(layer, call, jobs) if traced else nullcontext()


@contextmanager
def _patched(patches):
    """Set ``(module, name, value)`` attributes for the block, then put
    the originals back."""
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
    for mod, name, value in patches:
        setattr(mod, name, value)
    try:
        yield
    finally:
        for mod, name, value in saved:
            setattr(mod, name, value)


@contextmanager
def _flow_spans(ctx: Ctx):
    """Spans around the layer calls a ``flows.*_flow`` makes: the landing
    read, the pipeline's clean and the sink. Read and clean results are
    persisted and counted inside their spans, and released when the
    block ends."""
    tr, c, held = ctx.tr, ctx.count, []

    def materialized(layer, call, fn, counters):
        def wrapper(*args, **kwargs):
            with tr.span(layer, call):
                df = fn(*args, **kwargs).persist()
                n = df.count()
            held.append(df)
            for k in counters:
                c[k] += n
            return df

        return wrapper

    def sink(call, fn):
        def wrapper(*args, **kwargs):
            with tr.span("sinks", call):
                n = fn(*args, **kwargs)
            c["inserted"] += n
            return n

        return wrapper

    patches = [(flows, "read_landing", materialized("sources", "sources.read_landing", flows.read_landing, ["rows_in"]))]
    for kind in KINDS:
        name = f"clean_{kind}"
        patches.append(
            (flows, name, materialized("pipelines", f"pipelines.{name}", getattr(flows, name), ["rows_clean", "offered"]))
        )
    patches.append((flows, "merge_append", sink("sinks.merge_append", flows.merge_append)))
    patches.append((writers, "upsert_bars", sink("sinks.upsert_bars", writers.upsert_bars)))  # bars_flow imports it per call
    try:
        with _patched(patches):
            yield
    finally:
        for df in held:
            df.unpersist(True)


@contextmanager
def _stream_sink_span(ctx: Ctx):
    """A span around the ``merge_append`` each micro-batch of
    ``jobs.start_merge_stream`` makes. The sink runs on the stream's
    thread while the caller waits inside its own span."""
    tr, c, merge_append = ctx.tr, ctx.count, jobs.merge_append

    def wrapper(*args, **kwargs):
        with tr.span("sinks", "sinks.merge_append", jobs=False):
            n = merge_append(*args, **kwargs)
        c["inserted"] += n
        return n

    with _patched([(jobs, "merge_append", wrapper)]):
        yield


def _point(ctx: Ctx, path: str, op: tuple, traced: bool) -> int:
    """A ``("point", url, rows)`` read of the table at ``path``; returns
    the rows it found."""
    call = "sinks.read_committed_point"
    with ctx.tr.span("sinks", call) if traced else ctx.tr.jobs_only(call):
        df, read, total = writers.read_committed_point(ctx.spark, path, "url", op[1])
        n = len(df.collect())
    if traced:
        ctx.count["point_files_read"] += read
        ctx.count["point_files_total"] += total
    return n


class DailyIngest:
    """Trading days land one after another; each runs the news, posts and
    bars flows against growing tables and serves reads of the committed
    tables (the articles log bloom-indexed on url). A replay of the last
    day ends the run."""

    name = "daily_ingest"
    traffic = Traffic(articles=400, posts=400, tickers=4, minutes=120)
    tail_pct, min_n = 75, 3       # three days: 3 ingests, 9 range reads
    reads = 6                     # served after each day: 3 range, 3 point

    def setup(self, ctx: Ctx) -> None:
        spark = ctx.spark
        self.land = Landing(os.path.join(ctx.work, "landing"), ctx.seed, self.traffic)
        self.companies = spark.createDataFrame(self.land.companies(), "id string, ticker string")
        self.target = {k: os.path.join(ctx.work, k) for k in KINDS}
        # set_bloom_columns needs a committed version: open the articles
        # log with the key's NOT NULL contract (a metadata-only commit).
        writers.add_constraint(spark, self.target["news"], "url_not_null", "url IS NOT NULL")
        writers.set_bloom_columns(self.target["news"], ["url"])
        self.expected = []
        self._day(ctx, self._new_day(), self.target, False)  # the cold first day

    def _new_day(self) -> int:
        """Land the next day and plan its reads (both halves of a pair
        serve the same reads)."""
        self.expected.append(self.land.day(len(self.expected)))
        self.read_plan = self.land.read_plan(self.reads)
        return len(self.expected) - 1

    def step(self, ctx: Ctx) -> None:
        self._day(ctx, self._new_day(), self.target, False)

    def pair(self, ctx: Ctx, traced_first: bool) -> tuple[float, float]:
        """A new day run untraced on the tables and traced on a copy of
        them taken before it; returns the two walls, untraced first."""
        d = self._new_day()
        twin = {k: f"{p}-twin" for k, p in self.target.items()}
        for k in KINDS:
            shutil.copytree(self.target[k], twin[k])
        wall = {}
        for traced in (traced_first, not traced_first):
            t0 = time.perf_counter()
            self._day(ctx, d, twin if traced else self.target, traced)
            wall[traced] = time.perf_counter() - t0
        for p in twin.values():
            shutil.rmtree(p)
        return wall[False], wall[True]

    def _day(self, ctx: Ctx, d: int, target: dict[str, str], traced: bool) -> None:
        t0 = time.perf_counter()
        got = {kind: self._flow(ctx, kind, d, target, traced) for kind in KINDS}
        ingest = time.perf_counter() - t0
        ctx.op.append(ingest)
        ctx.rows += sum(got.values())
        ctx.rows_s += ingest
        for kind in KINDS:
            ctx.led.expect(f"day {d} {kind}_flow inserted", got[kind], self.expected[d][kind])
        for op in self.read_plan:
            if op[0] == "range":
                t0 = time.perf_counter()
                n = self._range(ctx, op, target, traced)
                ctx.op2.append(time.perf_counter() - t0)
            else:
                n = _point(ctx, target["news"], op, traced)
            ctx.led.expect(f"{op[0]} read {op[1:-1]} rows", n, op[-1])

    def _flow(self, ctx: Ctx, kind: str, d: int, target: dict[str, str], traced: bool) -> int:
        spark, tr = ctx.spark, ctx.tr
        path = os.path.join(self.land.day_path(d), kind)
        call = f"flows.{kind}_flow"
        with tr.span("flows", call, jobs=False) if traced else tr.jobs_only(call):
            with _flow_spans(ctx) if traced else nullcontext():
                if kind == "news":
                    return flows.news_flow(spark, path, target[kind])
                if kind == "posts":
                    return flows.posts_flow(spark, path, target[kind])
                return flows.bars_flow(spark, path, target[kind], self.companies)

    def _range(self, ctx: Ctx, op: tuple, target: dict[str, str], traced: bool) -> int:
        _, ticker, lo, hi, _ = op
        call = "sinks.read_committed_pruned"
        with ctx.tr.span("sinks", call) if traced else ctx.tr.jobs_only(call):
            df, read, total = writers.read_committed_pruned(
                ctx.spark, target["bars"], "bar_ts", minute_ts(lo), minute_ts(hi)
            )
            n = len(df.filter(F.col("company_id") == f"co-{ticker}").collect())
        if traced:
            ctx.count["range_files_read"] += read
            ctx.count["range_files_total"] += total
        return n

    def finish(self, ctx: Ctx) -> list[Table]:
        d = len(self.expected) - 1
        for kind in KINDS:
            n = self._flow(ctx, kind, d, self.target, False)
            ctx.led.expect(f"day {d} {kind}_flow replay inserted", n, 0)
        bars_ids = [cid for cid, _ in self.land.companies()]
        rows = {k: sum(e[k] for e in self.expected) for k in KINDS}
        return [
            Table("articles", self.target["news"], KEYS["news"], rows["news"]),
            Table("posts", self.target["posts"], KEYS["posts"], rows["posts"]),
            Table("bars", self.target["bars"], KEYS["bars"], rows["bars"], bars_ids),
        ]


class StreamIngest:
    """A pre-landed backlog of small raw-news drops drains through
    start_merge_stream (availableNow, one file per trigger) into a fresh
    table, which then serves point reads by url."""

    name = "stream_ingest"
    drops, rows = 2, 300
    reads = 4                     # point reads of each drained table
    tail_pct, min_n = 75, 3       # one episode: 3 micro-batches, 4 reads

    def setup(self, ctx: Ctx) -> None:
        self.land = Landing(os.path.join(ctx.work, "landing"), ctx.seed)
        self.tables: list[Table] = []
        self.episode = 0
        landing, urls = self._backlog(ctx, -1, drops=1)  # the cold first drain
        target = os.path.join(ctx.work, "tables", "cold")
        self._drain(ctx, landing, target, traced=False)
        ctx.led.expect("cold drain committed urls", self._urls(ctx, target), len(urls))
        for op in self.land.point_plan(urls, self.reads):
            ctx.led.expect(f"cold point read {op[1]} rows", _point(ctx, target, op, False), op[2])

    def _backlog(self, ctx: Ctx, e: int, drops: int | None = None) -> tuple[str, list[str]]:
        path = os.path.join(ctx.work, "landing", f"backlog{e}")
        return path, self.land.stream_backlog(path, drops or self.drops, self.rows)

    def _new_backlog(self, ctx: Ctx) -> tuple[str, list[str], list[tuple]]:
        landing, urls = self._backlog(ctx, self.episode)
        self.episode += 1
        return landing, urls, self.land.point_plan(urls, self.reads)

    def step(self, ctx: Ctx) -> None:
        self._episode(ctx, *self._new_backlog(ctx), False)

    def pair(self, ctx: Ctx, traced_first: bool) -> tuple[float, float]:
        """A new backlog drained and served untraced and traced, each into
        a fresh table; returns the two walls, untraced first."""
        backlog = self._new_backlog(ctx)
        wall = {}
        for traced in (traced_first, not traced_first):
            t0 = time.perf_counter()
            self._episode(ctx, *backlog, traced)
            wall[traced] = time.perf_counter() - t0
        return wall[False], wall[True]

    def _episode(self, ctx: Ctx, landing: str, urls: list[str], reads: list[tuple], traced: bool) -> None:
        name = f"{os.path.basename(landing)}-{'traced' if traced else 'plain'}"
        target = os.path.join(ctx.work, "tables", name)
        progress, wall = self._drain(ctx, landing, target, traced)
        ctx.led.expect(f"{name} committed urls", self._urls(ctx, target), len(urls))
        ctx.op.extend(p["durationMs"]["triggerExecution"] / 1000 for p in progress)
        ctx.rows += sum(p["numInputRows"] for p in progress)
        ctx.rows_s += wall
        self.tables.append(Table(name, target, ["url"], len(urls)))
        for op in reads:
            t0 = time.perf_counter()
            n = _point(ctx, target, op, traced)
            ctx.op2.append(time.perf_counter() - t0)
            ctx.led.expect(f"{name} point read {op[1]} rows", n, op[2])

    @staticmethod
    def _urls(ctx: Ctx, target: str) -> int:
        df = writers.read_committed(ctx.spark, target)
        return 0 if df is None else df.select("url").distinct().count()

    def _drain(self, ctx: Ctx, landing: str, target: str, traced: bool):
        spark, tr = ctx.spark, ctx.tr
        with _span(ctx, traced, "sources", "streaming.read_landing_stream"):
            src = jobs.read_landing_stream(spark, landing, RAW_NEWS_SCHEMA, max_files_per_trigger=1)
        with _span(ctx, traced, "streaming", "streaming.dedup_within_watermark"):
            deduped = jobs.dedup_within_watermark(
                src.withColumn("published_at", F.col("publishedAt").cast("timestamp")),
                ["url"],
                "published_at",
            )
        with _span(ctx, traced, "pipelines", "pipelines.clean_text_for_nlp"):
            clean = deduped.select(
                "url", "title", "published_at", clean_text_for_nlp("content").alias("content_cleaned")
            )
        t0 = time.perf_counter()
        with _span(ctx, traced, "streaming", "streaming.start_merge_stream", jobs=False):
            with _stream_sink_span(ctx) if traced else nullcontext():
                q = jobs.start_merge_stream(clean, target, ["url"], f"{target}-ckpt")
                try:
                    done = q.awaitTermination(DRAIN_TIMEOUT_S)
                finally:
                    q.stop()
        wall = time.perf_counter() - t0
        ctx.led.expect(f"{os.path.basename(target)} drain finished", bool(done) and q.exception() is None, True)
        progress = [p for p in q.recentProgress]
        tr.count_group("streaming.micro_batch", str(q.runId), len(progress))
        if traced:
            c = ctx.count
            c["microbatches"] += len(progress)
            c["drains"] += 1
            for p in progress:
                d = p["durationMs"]
                c["add_batch_ms"] += d.get("addBatch", 0)
                c["query_planning_ms"] += d.get("queryPlanning", 0)
                c["wal_commit_ms"] += d.get("walCommit", 0)
                c["offered"] += p["numInputRows"]
                c["rows_in"] += p["numInputRows"]
            ops = progress[-1].get("stateOperators") if progress else None
            c["state_rows"] += ops[0]["numRowsTotal"] if ops else 0
        return progress, wall

    def finish(self, ctx: Ctx) -> list[Table]:
        return self.tables


WORKLOADS = {w.name: w for w in (DailyIngest, StreamIngest)}
