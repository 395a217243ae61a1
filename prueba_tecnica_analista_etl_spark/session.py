"""SparkSession factory.

The reference has no engine of its own (pandas is eager, PostgreSQL is a
black box — SURVEY.md §4); all physical-execution choices here are ours.
Defaults are tuned for the local[N] harness but written for a real
cluster: AQE on (runtime re-plan: partition coalescing, skew-join
splitting, dynamic broadcast), UTC session timezone (timestamp
determinism), Arrow enabled (fast pandas interchange for the few
Pandas-UDF operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partitions follow the granted core count ($SPARK_GRAFT_CPUS,
# else os.cpu_count()) rather than a constant tuned for one machine
# shape: a fixed 32 over-fragments low-core runs. On a cluster, AQE
# coalescing sizes the real post-shuffle partitions from bytes, so this
# local default does not leak there.
DEFAULT_SHUFFLE_PARTITIONS = 32  # fallback when the core count is unknown


def _default_shuffle_partitions() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if cpus.isdigit():
        return max(int(cpus), 1)
    return os.cpu_count() or DEFAULT_SHUFFLE_PARTITIONS


def get_spark(
    app_name: str = "prueba-tecnica-etl-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    The master is ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``).
    All settings are also applied at runtime by
    :func:`ensure_runtime_conf` so engine queries behave identically on
    an externally-created session (the driver owns its own session).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(_default_shuffle_partitions()),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark 4
        # refuses natively; read as long, loader converts to µs timestamp
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable configs every engine query depends on.

    The correctness driver constructs its own session; these four are
    all runtime-mutable, so setting them here makes query semantics
    (timestamp rendering, adaptive planning) independent of who built
    the session.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark
