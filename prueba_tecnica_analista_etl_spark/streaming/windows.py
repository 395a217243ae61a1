"""Watermarked window aggregations (T2/T4) + the availableNow drain,
the one place in the package that starts a stream.

``tumbling_counts`` is also the body of the batch
``q_tumbling_window`` (batch/stream parity is asserted in tests);
session windows use
``session_window`` — Spark's native gap-based sessionization, state
kept per key and evicted by the watermark (bounded memory at 100 TB:
state size ~ active keys, not history).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from prueba_tecnica_analista_etl_spark.artifacts import lock


def tumbling_counts(
    stream: DataFrame, watermark: str = "1 minute"
) -> DataFrame:
    """Events per (1-hour tumbling window, event_type). On a stream the
    watermark bounds the window state; on a batch frame the optimizer
    drops it, so q_tumbling_window runs this same definition."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
            "cnt",
        )
    )


def sessionize(stream: DataFrame) -> DataFrame:
    """Per-user sessions: a session is a run of events with < 30
    minutes between neighbors. Append mode emits a session once the watermark
    passes its close.

    **Withheld tail (structural, not a bug):** in an availableNow
    replay the final watermark stops at ``max(event time) − watermark``,
    so any session still open within the gap of the stream's end — in
    particular every user's LAST session — is never emitted. This is
    exactly Spark's append-mode contract (only finalized windows leave
    the state store); a live pipeline emits them when later events
    advance the watermark. Batch parity therefore holds on the subset
    of sessions whose window end precedes the final watermark — the
    ``test_sessionize_batch_stream_parity`` test quantifies the gap
    against a batch ``session_window`` aggregation.

    The session window's end is emitted as epoch micros (``end_us`` —
    last event + gap): the column a finalization-margin filter needs
    (q_stream_sessionize's oracle-exact form cuts at end_us + margin
    <= max event time, a filter both engines evaluate on identical
    values)."""
    cols = [
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        "session_value",
        F.unix_micros(F.col("w.end")).alias("end_us"),
    ]
    return (
        stream.withWatermark("ts", "1 second")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("session_value"),
        )
        .select(*cols)
    )


def drain_available_now(writer: DataStreamWriter, state_dir: str) -> None:
    """Run a configured ``writer`` to availableNow completion with its
    checkpoint at ``<state_dir>/ckpt``. Two live queries sharing a
    checkpoint is undefined behavior, and a corrupted checkpoint would
    poison every future resume, so runs on one ``state_dir`` hold an
    ``flock`` on ``<state_dir>/.lock``. It excludes threads of this
    process as well as other processes; the loser waits, then resumes
    a drained checkpoint (zero micro-batches)."""
    os.makedirs(state_dir, exist_ok=True)
    with lock(os.path.join(state_dir, ".lock")):
        writer.option(
            "checkpointLocation", os.path.join(state_dir, "ckpt")
        ).trigger(availableNow=True).start().awaitTermination()


def run_available_now(
    sdf: DataFrame, spark: SparkSession, state_dir: str
) -> DataFrame:
    """Run a streaming DataFrame to availableNow completion and return
    its result as a LAZY batch DataFrame.

    The stream appends into a PERSISTENT parquet file sink at
    ``<state_dir>/out``, drained by :func:`drain_available_now` (T7),
    and the return is the batch read of the sink: exactly-once via the
    sink's ``_spark_metadata`` log, with no ``collect()`` anywhere.
    Registry queries root ``state_dir`` INSIDE the landing-dir artifact
    (``replay.sink_dir``), so the sink outlives the process — a fresh
    process resumes the checkpoint, finds no new source files, runs
    zero micro-batches and pays only the snapshot read — and dies with
    its generation when the artifact store evicts a superseded landing
    dir (no separate GC). At 100 TB this is precisely how the pipeline
    is consumed: readers scan the sink table, they never pull a
    streaming result through the driver.
    """
    out = os.path.join(state_dir, "out")
    drain_available_now(
        sdf.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append"),
        state_dir,
    )
    # Empty-sink guard: a run that committed ZERO output rows (e.g.
    # every window still open at the final watermark) leaves only
    # _spark_metadata in the sink, schema inference fails — and
    # because the checkpoint has already committed the source
    # offsets, every resume would fail the same way forever. Read
    # with the stream's own schema instead of inference.
    try:
        has_data = any(not name.startswith("_") for name in os.listdir(out))
    except FileNotFoundError:
        has_data = False
    if not has_data:
        return spark.createDataFrame([], sdf.schema)
    return spark.read.schema(sdf.schema).parquet(out)
