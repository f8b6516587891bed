"""Phase trace of the streaming index-maintenance gates (optimization r15).

Reproduces minhash_index_stream_upsert's machinery standalone —
signature/banding build, two merge_appends, landing drop, the
run_txn_merge_ingest drain + replay — with per-micro-batch wall times
and the merge engine's phase totals (same monkey-wrap as
docs/merge_phase_bench.py), so the 8-16 s bench row decomposes into
"streaming machinery" vs "merge engine" vs "scoring tail".

Usage: python docs/stream_phase_bench.py [n_rounds]
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
    n_rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="stream-phase-bench", cpus=cpus)

    import stonkwhisperer_spark.sinks.writers as wr
    from stonkwhisperer_spark.operators.dedup import (
        band_keys,
        minhash_signatures_exploded,
    )
    from stonkwhisperer_spark.plans.queries_llm import _N_BANDS, _ROWS_PER_BAND, _postings
    from stonkwhisperer_spark.streaming import jobs as sj

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
        "_read_snapshot",
        "_value_counts",
        "_try_commit",
        "last_txn_version",
    ):
        _wrap(wr, name)

    # Per-micro-batch merge timing.
    orig_merge_txn = wr.merge_upsert_txn
    mb_times: list[float] = []

    def timed_merge_txn(*a, **kw):
        t0 = time.perf_counter()
        out = orig_merge_txn(*a, **kw)
        mb_times.append(time.perf_counter() - t0)
        return out

    # run_txn_merge_ingest calls the name streaming.jobs imported at load.
    sj.merge_upsert_txn = timed_merge_txn

    for rnd in range(n_rounds):
        PHASES.clear()
        CALLS.clear()
        mb_times.clear()
        t_all = time.perf_counter()
        sigs = minhash_signatures_exploded(_postings(spark, sf_dir), "doc_id", 16)
        banded = sigs.select(
            "doc_id",
            F.posexplode(
                band_keys(F.col("sig"), _N_BANDS, _ROWS_PER_BAND)
            ).alias("band_idx", "band_key"),
        ).localCheckpoint(eager=True)
        t_build = time.perf_counter() - t_all
        base = banded.filter(F.col("doc_id") % 4 != 0)
        batch = banded.filter(F.col("doc_id") % 4 == 0)
        drafts = batch.filter(F.col("doc_id") % 8 == 0).withColumn(
            "band_key",
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit("stale-shingling"),
                    F.col("doc_id").cast("string"),
                    F.col("band_idx").cast("string"),
                )
            ),
        )
        scratch = scratch_dir("stream_phase_")
        try:
            target = f"{scratch}/bands"
            t0 = time.perf_counter()
            wr.merge_append(spark, target, base, ["doc_id", "band_idx"])
            wr.merge_append(spark, target, drafts, ["doc_id", "band_idx"])
            t_appends = time.perf_counter() - t0
            landing = f"{scratch}/landing"
            t0 = time.perf_counter()
            batch.repartition(4).write.parquet(landing)
            t_landing = time.perf_counter() - t0
            t0 = time.perf_counter()
            sj.run_txn_merge_ingest(
                spark,
                landing,
                batch.schema,
                target,
                ["doc_id", "band_idx"],
                "mh_phase_ingest",
                scratch,
            )
            t_drain = time.perf_counter() - t0
            total = time.perf_counter() - t_all
            merge_total = sum(mb_times)
            print(
                f"[round {rnd}] total {total:6.2f}s = build {t_build:5.2f} "
                f"+ appends {t_appends:5.2f} + landing {t_landing:5.2f} "
                f"+ drain {t_drain:5.2f} (merges {merge_total:5.2f} in "
                f"{len(mb_times)} calls: "
                f"{' '.join(f'{t:.2f}' for t in mb_times)}; "
                f"stream-overhead {t_drain - merge_total:5.2f})",
                flush=True,
            )
            print("  phases:", {k: round(v, 2) for k, v in sorted(PHASES.items(), key=lambda kv: -kv[1])})
            print("  calls: ", CALLS, flush=True)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
