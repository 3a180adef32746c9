"""SparkSession factory with the confs this engine requires.

Scale design note (100 TB target): these confs are tuned for local[N]
testing, but the *shape* holds on a cluster — AQE on (runtime shuffle
coalescing + skew-join splitting), a sane broadcast threshold, Arrow for
any Python exchange, and UTC/NTZ timestamp discipline everywhere. On a real
cluster you would additionally set executor memory/cores and raise
``spark.sql.shuffle.partitions`` to ~2-3x total cores; AQE coalesces the
excess at runtime, so over-partitioning is cheap and under-partitioning is
not.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs that our readers depend on. Applied both at
# session build AND defensively in load_tables() (the driver may hand us a
# session we didn't build).
RUNTIME_CONFS = {
    # All test timestamps are timezone-naive; pin the session to UTC so
    # ntz<->tz casts are identity w.r.t. the stored micros.
    "spark.sql.session.timeZone": "UTC",
    # Runtime-settable: callers that hand us a default session would
    # otherwise run every shuffle at 200 partitions — wasteful at test
    # scale (AQE coalesces, but scheduling overhead remains).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
}


def get_spark(app_name: str = "spark-ml-helper-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or fetch) the local SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` (default 32) for local parallelism and sizes
    ``spark.sql.shuffle.partitions`` to match — at local test scale the
    default 200 partitions just burns task-scheduling overhead; AQE coalesces
    further at runtime.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        # long multi-query sessions accumulate localCheckpoint blocks that
        # the ContextCleaner only reclaims after a JVM GC; periodic GC every
        # 5 min (vs the 30 min default) keeps storage memory from squeezing
        # execution memory mid-sweep (the dedup_ngram 36 s long-sweep
        # outlier vs 7 s isolated was this pressure, not a plan change)
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_runtime_confs(spark: SparkSession) -> None:
    """Set the runtime-settable confs on an externally-provided session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf may be static in some deployments; readers will fail loudly if so


def staging_dir(prefix: str) -> str:
    """``mkdtemp`` that is removed at interpreter exit.

    Fixture staging (CSV/JSON/ORC sinks, binaryFile sources, stream file
    feeds) creates one temp directory per (query, sf_dir) per process;
    registering cleanup at exit keeps repeated harness runs from leaking
    directories (ADVICE r2). Cleanup is exit-time, not eager, because the
    DataFrames returned by the staged queries read from these paths
    lazily — the driver may collect them long after the query function
    returned.
    """
    import atexit
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out
