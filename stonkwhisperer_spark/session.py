"""SparkSession factory.

Scale posture (SURVEY.md §7.2 M6): AQE on (runtime coalesce + skew-join),
32 shuffle partitions whatever the core count (``shuffle_partitions`` or
``SPARK_SHUFFLE_PARTITIONS`` overrides it; AQE coalesces them for batch
queries, and the stream starters in ``streaming/jobs.py`` start each
query at ``min(this, defaultParallelism)``), Arrow enabled for the few
Pandas-UDF paths, UTC session timezone so timestamp semantics match the
reference (TIMESTAMPTZ, UTC everywhere — reference
data_pipeline/tasks/transformation.py:59-60).

ANSI note: queries in plans/ are written to be ANSI-safe (try_cast where
input may be malformed) so they behave identically whether the hosting
session has ANSI on (Spark 4 default) or off.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stonkwhisperer-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # Console progress bars write \r-refreshed stage lines to stdout,
        # which can push bench.py's single JSON result line past a
        # log-tail capture window — keep stdout clean in all harness runs.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Lower the codegen fallback threshold from 65535 to 35000
        # bytecode bytes. HotSpot never JIT-compiles a method over 8000
        # bytes (DontCompileHugeMethods), so a huge generated method
        # runs as interpreted BYTECODE — but that only hurts when the
        # hot arithmetic sits in the big method itself instead of in
        # JIT-friendly split callees. Measured per family at sf0.1:
        # the deep single-expression ANN trees (dim-unrolled integer
        # dot/sqdist — one >35 KB method codegen cannot split) are
        # 30-45% faster falling back to interpreted EXPRESSIONS
        # (ivfpq_topk 5.3->3.7 s steady, first-run ivfsq8 31->8.6 s),
        # while the wide-but-splittable text/JSON stages (8-35 KB
        # top-level, hot work in split sub-methods) LOSE ~20% if forced
        # to fall back — 35000 keeps codegen for them and sheds it only
        # where the JIT could never help.
        .config("spark.sql.codegen.hugeMethodLimit", "35000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scratch_dir(prefix: str) -> str:
    """Ephemeral per-query scratch (seed tables, stream checkpoints,
    txlog lifecycle tables) for the LOCAL harness: prefers tmpfs
    (/dev/shm) so the fsync-heavy checkpoint/commit chatter of
    micro-batch streams never waits on disk — every caller rmtree's
    the dir when its query finishes, and the contents are throwaway
    test state by construction. Production streams point
    checkpointLocation at durable storage; this helper is the
    local-mode stand-in, not a durability statement."""
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)
