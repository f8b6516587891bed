"""Phase-level timing of the txlog merge engine (optimization r15, guide §1).

Builds a scratch txlog table shaped like the index-maintenance gates
(bm25 tf index: ~37k rows, 3 cols + key pair) and times each phase of
merge_append / merge_upsert / merge_upsert_txn by monkey-wrapping the
internal staging/collect helpers. Prints per-phase seconds and Spark job
counts so the optimization targets the measured cost, not the assumed one.

Usage: python docs/merge_phase_bench.py [n_rounds]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from stonkwhisperer_spark.session import get_spark, scratch_dir  # noqa: E402

PHASES: dict[str, float] = {}
CALLS: dict[str, int] = {}


def _wrap(mod, name):
    orig = getattr(mod, name)

    def timed(*a, **kw):
        t0 = time.perf_counter()
        out = orig(*a, **kw)
        dt = time.perf_counter() - t0
        PHASES[name] = PHASES.get(name, 0.0) + dt
        CALLS[name] = CALLS.get(name, 0) + 1
        return out

    setattr(mod, name, timed)
    return orig


def main() -> None:
    n_rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="merge-phase-bench", cpus=cpus)

    import stonkwhisperer_spark.sinks.writers as wr
    from stonkwhisperer_spark.plans.queries_text import bm25_tf_index

    # Warm: tables + python worker, like bench.py.
    from stonkwhisperer_spark.sources.tables import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.count()
    spark.range(32).toPandas()

    for name in (
        "_stage_files",
        "_file_meta",
        "_stage_cdc_files_counted",
        "_matched_rel_files",
        "_commits",
        "_stage_dml",
        "_try_commit",
        "_read_snapshot",
        "_value_counts",
    ):
        _wrap(wr, name)

    tf_all = bm25_tf_index(spark, sf_dir).localCheckpoint(eager=True)
    base_tf = tf_all.filter(F.col("doc_id") % 4 != 0)
    batch_tf = tf_all.filter(F.col("doc_id") % 4 == 0)
    drafts = batch_tf.filter(F.col("doc_id") % 8 == 0).withColumn(
        "tf", F.lit(1).cast("bigint")
    )
    print(
        f"rows: base={base_tf.count()}, batch={batch_tf.count()}, "
        f"drafts={drafts.count()}"
    )

    st = spark.sparkContext.statusTracker()

    def run_round(i: int):
        scratch = scratch_dir("merge_phase_")
        target = f"{scratch}/tf"
        try:
            out = {}
            for label, fn in (
                ("merge_append(base+drafts)", lambda: wr.merge_append(
                    spark, target, base_tf.unionByName(drafts), ["doc_id", "tok"]
                )),
                ("merge_upsert(batch)", lambda: wr.merge_upsert(
                    spark, target, batch_tf, ["doc_id", "tok"]
                )),
                ("merge_upsert_txn(batch replay-new)", lambda: wr.merge_upsert_txn(
                    spark, target, batch_tf, ["doc_id", "tok"], "app", 1
                )),
            ):
                snap = dict(PHASES)
                j0 = len(st.getJobIdsForGroup() or [])
                t0 = time.perf_counter()
                fn()
                dt = time.perf_counter() - t0
                j1 = len(st.getJobIdsForGroup() or [])
                delta = {
                    k: round(PHASES[k] - snap.get(k, 0.0), 3)
                    for k in PHASES
                    if PHASES[k] - snap.get(k, 0.0) > 0.0005
                }
                out[label] = (round(dt, 3), j1 - j0, delta)
            for label, (dt, jobs, delta) in out.items():
                print(f"[round {i}] {label:38s} {dt:7.3f}s  jobs={jobs}")
                for k, v in sorted(delta.items(), key=lambda kv: -kv[1]):
                    print(f"            {k:24s} {v:7.3f}s")
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

    for i in range(n_rounds):
        run_round(i)

    print("\ncumulative phase totals:")
    for k, v in sorted(PHASES.items(), key=lambda kv: -kv[1]):
        print(f"  {k:24s} {v:8.3f}s  calls={CALLS[k]}")
    spark.stop()


if __name__ == "__main__":
    main()
