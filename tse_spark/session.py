"""SparkSession factory for the engine, tests and bench.

Local-mode defaults are sized for the sandbox (local[$SPARK_GRAFT_CPUS],
shuffle partitions ~= cores); on a real cluster the same code runs under
``spark-submit --py-files`` with the session provided by the launcher —
every operator takes the session/DataFrames as inputs and never assumes
local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_worker_sitecustomize() -> None:
    """Prepend the repo root (holding ``sitecustomize.py``) to PYTHONPATH
    **before** the JVM starts, so the pyspark worker daemon — and by
    fork-inheritance every Python worker, including ones whose UDFs were
    cloudpickled by value and never import tse_spark — runs the THP
    opt-out and the lazy zipimport invalidation at interpreter startup.
    See sitecustomize.py for what each one saves; ``TSE_SPARK_KEEP_THP``
    is read there and skips only the THP opt-out.  Must be called before
    SparkSession creation; a no-op afterwards (env is only read at
    daemon launch)."""
    pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + pp if pp else "")
        )


def _default_driver_memory() -> str:
    """24g, capped at half the host's physical memory.  The driver heap
    grows toward its cap as cached tables pile up, and a 24g cap on a
    16 GB host got the JVM OOM-killed part-way through the test suite."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "24g"
    return f"{min(24 << 10, phys >> 21)}m"


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to an externally created session
    (the spark-submit path) without overriding explicit --conf choices:
    only settings still at their Spark defaults are touched."""
    conf = spark.conf
    try:
        if conf.get("spark.sql.shuffle.partitions") == "200":
            conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # wide aggregates (e.g. the 64-bit-plane SimHash) exceed the default
    # 100-field cap and silently drop out of whole-stage codegen; raise
    # the cap so they stay compiled (runtime-settable)
    conf.set("spark.sql.codegen.maxFields", "256")
    # On a real (non-local) cluster, also pass straggler re-launch flags
    # at spark-submit time: --conf spark.speculation=true
    # --conf spark.speculation.quantile=0.75 — Spark never starts the
    # speculation scheduler under local[N] masters, so setting them here
    # would be a no-op.
    return spark


def get_spark(
    cpus: int | None = None,
    app: str = "tse_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    export_worker_sitecustomize()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # small-input AQE floor: default minPartitionSize (1 MB) would
        # coalesce post-shuffle UDF stages to a handful of partitions on
        # MB-scale test corpora; keep parallelism tracking core count
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep wide aggregates (64-bit-plane SimHash) in whole-stage
        # codegen instead of silently falling to the interpreted path
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
