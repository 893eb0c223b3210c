"""SparkSession factory tuned for the engine.

Scale posture (SURVEY.md E7): AQE on (runtime re-plan, skew-join
splitting, shuffle coalescing), UTC session timezone (so timestamps
hash-match external oracles), Arrow enabled for the pandas-UDF path.
On a real cluster the same builder is used with a cluster master URL;
``shuffle_partitions`` should then be sized ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied even to an externally provided session
# (e.g. the verify driver's). These are the ones correctness and the
# pandas-UDF fast path depend on.
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet readers: don't silently lose pushdown.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # TIMESTAMP(NANOS) parquet columns (events.ts) surface as LONG
    # nanoseconds; sources/testdata.py converts to micros explicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _quiet_window_exec(spark: SparkSession) -> None:
    """Silence WindowExec's "No Partition Defined" warning.

    The engine's only partition-less windows are post-limit rank
    assignments over <=K rows (d36, d37-adjacent, e22, top-k rescoring
    sites) — single-partition is the *intended* plan there, and
    ``W.partitionBy(F.lit(1))`` cannot express that quietly: Spark 4's
    ``EliminateWindowPartitions`` optimizer rule folds a foldable
    partition spec away, so the executed plan is partition-less and
    WindowExec warns anyway. The warning wall buries real warnings in
    bench/sweep logs (round-2 VERDICT #3), so it is turned off at the
    logger instead; ``tests/test_plans.py`` mechanically gates every
    partition-less Window in the registry to bounded (post-limit)
    inputs, which is the property the warning exists to police.
    """
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:  # non-log4j2 deployments -- best effort
        pass


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # immutable conf on some builds -- best effort
            pass
    _quiet_window_exec(spark)
    return spark


def local_cpus() -> str:
    """Cores of the local master: ``$SPARK_GRAFT_CPUS`` when set, else
    the cores this process may run on (its CPU affinity, which honours
    taskset and container cpusets)."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """Driver heap of the local session: ``$SPARK_DRIVER_MEM`` when
    set, else half the host's physical memory in whole GiB (at least
    1g) — the driver JVM shares the host with the Python workers."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def get_spark(
    app_name: str = "ddb-zero-etl-s3tables-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Local default: ``local[<local_cpus()>]`` threads, shuffle
    partitions matched to cores (not the 200 default, which makes tiny
    tasks locally; on a cluster pass an explicit larger value), and a
    driver heap of :func:`driver_memory`.
    """
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
