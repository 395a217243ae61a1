"""Canonical parquet table loaders (S5).

Parquet is the engine's canonical storage (columnar, splittable,
predicate/column pushdown — the scan Catalyst can prune). At 100 TB each
table would be a partitioned directory (e.g. ``orders/o_orderdate=.../``)
and these loaders pick up partition pruning for free; the harness
testdata is a single file per table.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prueba_tecnica_analista_etl_spark.artifacts import (
    _corpus_fingerprint,
    census_artifact,
)
from prueba_tecnica_analista_etl_spark.session import (
    ensure_runtime_conf,
    session_clone,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Normalize the event-time column ``ts`` to ``TimestampType``
    regardless of the parquet physical encoding it arrived in.

    The harness testdata has shipped ``events.ts`` in two encodings so
    far, and a third is plausible; all must converge on the µs-instant
    ``timestamp`` type that ``withWatermark`` requires:

    - ``TIMESTAMP(NANOS)``: Spark 4 cannot map ns to its µs
      TimestampType; with ``nanosAsLong`` it arrives as epoch nanos
      (long) and is truncated to µs — the same ns→µs truncation DuckDB
      applies casting TIMESTAMP_NS, so both engines see the same
      instants.
    - ``TIMESTAMP_MICROS (isAdjustedToUTC=0)``: Spark 4 reads this as
      ``TIMESTAMP_NTZ``, which ``withWatermark`` rejects
      (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Cast to ``timestamp`` —
      under the pinned UTC session timezone the wall-clock
      reinterpretation is the identity on instants, so batch oracle
      hashes are unchanged.
    - ``TIMESTAMP_MICROS (isAdjustedToUTC=1)``: already
      ``TimestampType``; pass through untouched.

    Contract: an int64 event-time column is epoch NANOS — there is no
    in-band way to tell ns/µs/ms apart within the same physical type,
    so the unit is pinned by contract and guarded out-of-band by
    ``test_event_time_magnitude_sentinel`` (decoded instants must land
    in a plausible year range; a mis-scaled unit lands in 1970 or past
    2100 and fails the sentinel by name).
    """
    if "ts" not in df.columns:
        return df
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session confs that change the schema parquet inference yields for
# the same files; each distinct combination keys its own schema.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one canonical table: ``{sf_dir}/{name}.parquet``.

    Schema inference is a Spark job, so it runs once per corpus
    generation and engine source: the inferred ``StructType`` is a
    census artifact keyed by the session's inference confs, and the
    table is read with that schema. A rewritten table changes the
    corpus fingerprint, so its schema goes stale exactly when every
    other artifact of the corpus does.

    ``events.ts`` is normalized to ``TimestampType`` whatever physical
    encoding the file carries — see :func:`normalize_event_time`.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    confs = "-".join(spark.conf.get(k) for k in _INFERENCE_CONFS)
    schema = census_artifact(
        spark,
        sf_dir,
        f"schema:{name}:{confs}",
        lambda: spark.read.parquet(path).schema.jsonValue(),
    )
    df = spark.read.schema(T.StructType.fromJson(schema)).parquet(path)
    if name == "events":
        df = normalize_event_time(df)
    return df


# Plan-construction cache. A DataFrame is an immutable logical plan,
# so one per (session, sf_dir, table) can be shared by every query of
# the session: without it, each query pays its own parquet file
# listing, stored-schema lookup and a round of conf.set py4j calls,
# all in Python before Spark executes anything. (Schema
# inference, the one Spark job a table read needs, is paid once per
# corpus generation by load_table.) The cache lives ON the session
# object, not in a module-level map keyed by the session: it is
# collected with the session, so long-lived multi-session processes
# never pin stopped sessions or their plans. Creating the cache
# doubles as the once-per-session ensure_runtime_conf gate.
#
# A frame's file listing is frozen when it is built, so each entry
# carries the corpus fingerprint the artifact store keys on and is
# rebuilt when the corpus changes: an append or a rewrite of a table
# is never served from a stale listing. Each entry fills under its
# own lock, so threads resolving the same table build it once.
_PLAN_CACHE_ATTR = "_ptae_plan_cache"
_PLAN_CACHE_LOCK = threading.Lock()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    with _PLAN_CACHE_LOCK:
        cache = getattr(spark, _PLAN_CACHE_ATTR, None)
        if cache is None:
            ensure_runtime_conf(spark)
            cache = {}
            setattr(spark, _PLAN_CACHE_ATTR, cache)
        slot = cache.setdefault((sf_dir, name), [threading.Lock(), None])
    fp = _corpus_fingerprint(sf_dir)
    with slot[0]:
        if slot[1] is None or slot[1][0] != fp:
            slot[1] = (fp, load_table(spark, sf_dir, name))
        return slot[1][1]


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition before expensive per-row compute.

    A small table read from one parquet file arrives as ONE partition,
    so heavy row-wise expressions (shingling, hashing, UDF batches)
    run on a single core no matter how many the cluster has. One cheap
    narrow-data shuffle first buys full parallelism for the expensive
    stage. At 100 TB the scan is already many-splits and this is a
    no-op decision — it matters exactly when file count < cores.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism)


def footer_stats_session(spark: SparkSession) -> SparkSession:
    """Session clone configured for PARQUET AGGREGATE PUSHDOWN: a
    filter-free MIN/MAX/COUNT over a parquet table is answered from
    row-group FOOTER STATISTICS — zero data pages read — which at
    100 TB turns full-table census queries (the reference's
    row-count verification checks, S-family audits) from a complete
    scan into a metadata pass.

    Two confs, both scoped to the CLONE so the caller's session and
    every recorded query plan stay untouched:

    * ``spark.sql.parquet.aggregatePushdown=true`` — the feature
      flag;
    * ``spark.sql.sources.useV1SourceList=""`` — pushdown is a
      DSv2-only capability; parquet reads default to the V1 source
      where the flag is a no-op (measured: no ``PushedAggregation``
      without this).

    Semantics are unchanged — Spark falls back to a normal scan
    whenever pushdown cannot answer exactly (filters present, nested
    or unsupported-type columns, nulls where the stat is unusable) —
    proven value-equal to the V1 path by
    ``test_footer_stats_session_pushes_aggregates``.

    The configured clone is memoized per parent session
    (:func:`session.session_clone`).
    """
    return session_clone(
        spark,
        {
            "spark.sql.parquet.aggregatePushdown": "true",
            "spark.sql.sources.useV1SourceList": "",
        },
    )
