"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. Makes the workload's inputs from the seed,
starts a Spark session with ``stonkwhisperer_spark.session.get_spark``,
sets the workload up, runs its closed loop for ``--seconds`` (and on
until each operation has its minimum sample count), checks the outputs,
and prints one JSON object as the last line of standard output: with
``--trace 0`` every end-to-end metric, with ``--trace 1`` every
per-layer metric. Scratch state lives under ``.perfbench_work/`` in the
repository root and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CPUS = 4  # local[4] on any host; every other session setting is get_spark's default
SPAN_CALLS = (
    "flows.news_flow",
    "flows.posts_flow",
    "flows.bars_flow",
    "sinks.merge_append",
    "sinks.upsert_bars",
    "sinks.read_committed_pruned",
    "sinks.read_committed_point",
    "streaming.micro_batch",
)
LAYERS = ("sources", "pipelines", "sinks", "streaming", "flows")
MIN_PAIRS = 2  # traced runs: one pair in each order


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("daily_ingest", "stream_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jvm = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} {jvm}".strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} {jvm}".strip()
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jvm,
    }


def _pct(xs: list[float], p: int) -> float:
    """The p-th percentile (inclusive interpolation)."""
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _stop_jvm(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — must not leave the JVM behind
            proc.kill()
            proc.wait()


def _table_state(spark, tables) -> dict[str, float]:
    """Per-layer state of the committed tables, from public whole-log calls."""
    from stonkwhisperer_spark.sinks import writers

    files = size = versions = txlog = data_commits = added = 0
    replay = []
    for t in tables:
        t0 = time.perf_counter()
        detail = writers.table_detail(t.path)
        replay.append(time.perf_counter() - t0)
        files += detail["num_files"]
        size += detail["size_bytes"]
        versions += detail["version"]
        txlog += _dir_bytes(os.path.join(t.path, "_txlog"))
        for row in writers.table_history(spark, t.path).filter("num_rows > 0").collect():
            data_commits += 1
            added += row.num_added_files
    n = max(len(tables), 1)
    return {
        "sinks.files_per_commit": added / max(data_commits, 1),
        "sinks.bytes_per_file": size / max(files, 1),
        "sinks.table_files": files / n,
        "sinks.txlog_versions": versions / n,
        "sinks.txlog_bytes": txlog / n,
        "sinks.log_replay_s": statistics.median(replay) if replay else 0.0,
    }


def _per_layer(ctx, tables, get_spark_s, peak_rss, plain, traced) -> dict[str, float]:
    tr, c = ctx.tr, ctx.count
    wall = sum(traced)
    covered = sum(tr.self_s.values())
    m = {
        "session.get_spark_s": get_spark_s,
        "peak_rss_mb": peak_rss,
        "sources.read_landing_s": tr.call_s["sources.read_landing"] + tr.call_s["streaming.read_landing_stream"],
        "sources.rows_in": c["rows_in"],
        "pipelines.clean_news_s": tr.call_s["pipelines.clean_news"],
        "pipelines.clean_posts_s": tr.call_s["pipelines.clean_posts"],
        "pipelines.clean_bars_s": tr.call_s["pipelines.clean_bars"],
        "pipelines.keep_ratio": c["rows_clean"] / c["rows_in"] if c["rows_in"] else 0.0,
        "sinks.merge_append_s": tr.call_s["sinks.merge_append"] + tr.call_s["sinks.upsert_bars"],
        "sinks.insert_ratio": c["inserted"] / c["offered"] if c["offered"] else 0.0,
        "sinks.read_pruned_s": tr.call_s["sinks.read_committed_pruned"],
        "sinks.range_files_read_ratio": c["range_files_read"] / c["range_files_total"] if c["range_files_total"] else 0.0,
        "sinks.read_point_s": tr.call_s["sinks.read_committed_point"],
        "sinks.point_files_read_ratio": c["point_files_read"] / c["point_files_total"] if c["point_files_total"] else 0.0,
        "streaming.microbatches": c["microbatches"],
        "streaming.add_batch_ms": c["add_batch_ms"] / c["microbatches"] if c["microbatches"] else 0.0,
        "streaming.query_planning_ms": c["query_planning_ms"] / c["microbatches"] if c["microbatches"] else 0.0,
        "streaming.wal_commit_ms": c["wal_commit_ms"] / c["microbatches"] if c["microbatches"] else 0.0,
        "streaming.state_rows": c["state_rows"] / c["drains"] if c["drains"] else 0.0,
        **_table_state(ctx.spark, tables),
        **{f"{layer}.self_s": tr.self_s[layer] for layer in LAYERS},
        "trace.wall_s": wall,
        "trace.uncovered_s": wall - covered,
        "trace.overhead_share": wall / sum(plain) - 1,
    }
    for call in SPAN_CALLS:
        jobs, stages, tasks = tr.spark_per_call(call)
        m[f"spark.jobs.{call}"] = jobs
        m[f"spark.stages.{call}"] = stages
        m[f"spark.tasks.{call}"] = tasks
    return m


def main(argv=None) -> int:
    args = _args(argv)
    t_start = time.perf_counter()
    sys.path[:0] = [ROOT, HERE]
    import stonkwhisperer_spark  # noqa: F401 — fail here, before any work, if the program is absent

    from checks import check_table
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        conf = _isolate(work)
        from stonkwhisperer_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
        get_spark_s = time.perf_counter() - t0
        ctx = Ctx(spark, work, args.seed, Tracer(spark.sparkContext, bool(args.trace)))
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx)
        if args.trace:
            wl.step(ctx)  # the JVM still warms in the first unit: keep it out of the pairs
        ctx.tr.reset()
        ctx.op.clear()
        ctx.op2.clear()
        ctx.rows, ctx.rows_s = 0, 0.0
        setup_s = time.perf_counter() - t_start

        t_loop = time.perf_counter()
        deadline, hard_stop = t_loop + args.seconds, t_loop + 2 * args.seconds + 30
        plain: list[float] = []   # traced runs: unit walls of each pair, untraced
        traced: list[float] = []  # and traced, alternating which runs first
        while True:
            now = time.perf_counter()
            if args.trace:
                short = len(traced) < MIN_PAIRS
            else:
                short = min(len(ctx.op), len(ctx.op2)) < wl.min_n
            if now >= hard_stop or (now >= deadline and not short):
                break
            if args.trace:
                p, t = wl.pair(ctx, traced_first=len(traced) % 2 == 1)
                plain.append(p)
                traced.append(t)
            else:
                wl.step(ctx)

        tables = wl.finish(ctx)
        for t in tables:
            check_table(ctx.led, spark, t.name, t.path, t.keys, t.rows, t.company_ids)
        rows = sum(t.rows for t in tables)
        stored = sum(_dir_bytes(t.path) for t in tables) / rows if rows else float("nan")
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = _hwm_mb(jvm_pid) + _hwm_mb("self")
        if args.trace:
            metrics = _per_layer(ctx, tables, get_spark_s, peak_rss, plain, traced)
            units = {k: "s" if k.endswith("_s") else "ms" if k.endswith("_ms") else "count" for k in metrics}
            units.update({k: "share" for k in metrics if k.endswith(("_ratio", "_share"))})
            units.update({"sinks.bytes_per_file": "B", "sinks.txlog_bytes": "B", "peak_rss_mb": "MB"})
        else:
            led = ctx.led
            metrics = {
                "setup_s": setup_s,
                "op_p50_ms": statistics.median(ctx.op) * 1000,
                "op_tail_ms": _pct(ctx.op, wl.tail_pct) * 1000,
                "op2_p50_ms": statistics.median(ctx.op2) * 1000,
                "op2_tail_ms": _pct(ctx.op2, wl.tail_pct) * 1000,
                "rows_per_s": ctx.rows / ctx.rows_s,
                "ok_op_share": 1 - len(led.failures) / led.attempted,
                "stored_bytes_per_row": stored,
            }
            units = {
                "setup_s": "s", "rows_per_s": "1/s", "ok_op_share": "share",
                "stored_bytes_per_row": "B/row",
            }
            units.update({k: "ms" for k in metrics if k.endswith("_ms")})
        print(
            f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
            f"op n={len(ctx.op)}, op2 n={len(ctx.op2)}, tail p{wl.tail_pct}, "
            f"get_spark {get_spark_s:.1f}s, setup {setup_s:.1f}s, loop {time.perf_counter() - t_loop:.1f}s, checks {ctx.led.attempted}, "
            f"failed {len(ctx.led.failures)}"
            + (f", pair walls untraced {[round(x, 2) for x in plain]} traced {[round(x, 2) for x in traced]}" if args.trace else ""),
            file=sys.stderr,
        )
        result = {
            "correct": not ctx.led.failures,
            "attempted": ctx.led.attempted,
            "failed": len(ctx.led.failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
