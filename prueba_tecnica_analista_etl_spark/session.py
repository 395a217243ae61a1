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
import threading
import weakref

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


# The runtime-settable confs every engine query depends on: the
# factory builds its session with them, and ensure_runtime_conf pins
# them on a session someone else built (the correctness driver's).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.ansi.enabled": "false",
    # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark 4
    # refuses natively; read as long, loader converts to µs timestamp
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "prueba-tecnica-etl-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    The master is ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``).
    ``RUNTIME_CONF`` is also applied at runtime by
    :func:`ensure_runtime_conf` so engine queries behave identically on
    an externally-created session (the driver owns its own session).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    conf = {
        **RUNTIME_CONF,
        "spark.sql.shuffle.partitions": str(_default_shuffle_partitions()),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Pin ``RUNTIME_CONF`` on ``spark``. The correctness driver
    constructs its own session; these confs are all runtime-mutable, so
    setting them here makes query semantics (timestamp rendering,
    adaptive planning, ns-timestamp reads) independent of who built the
    session.
    """
    for k, v in RUNTIME_CONF.items():
        spark.conf.set(k, v)
    return spark


def session_clone(spark: SparkSession, confs: dict[str, str]) -> SparkSession:
    """A clone of ``spark`` (shared SparkContext, own SQL conf) with
    :func:`ensure_runtime_conf` and ``confs`` set, memoized per parent
    session and conf set.

    Queries that need a conf the caller's session must not see run on
    such a clone. A fresh clone per call is not free: each one that
    starts a stream adds a listener to the shared SparkContext's
    listener bus and never removes it, and building one costs several
    py4j round trips."""
    key = tuple(sorted(confs.items()))
    with _CLONES_LOCK:
        clones = _CLONES.setdefault(spark, {})
        s = clones.get(key)
        if s is None:
            s = ensure_runtime_conf(spark.newSession())
            for k, v in confs.items():
                s.conf.set(k, v)
            clones[key] = s
    return s


def _stream_session(spark: SparkSession) -> SparkSession:
    """The session the stream queries run on: a memoized clone of
    ``spark`` with 4 shuffle partitions. Stateful ops run exactly
    `shuffle.partitions` state tasks per micro-batch (no AQE in
    streaming), so the session default (sized for batch shuffles)
    over-fragments these replays' tiny state — measured 2× slower at
    32 than 8, and 4 is the sweet spot. The clone shares the
    SparkContext but not the SQL conf, so the caller's session is
    never mutated. At scale this constant is the state-store sizing
    knob and is pinned by the first checkpoint."""
    return session_clone(spark, {"spark.sql.shuffle.partitions": "4"})


# parent session -> {conf set: clone}. The parent is a weak key, so the
# memo never pins a stopped session; a clone does not refer back to its
# parent, so the entry dies with it.
_CLONES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_CLONES_LOCK = threading.Lock()
