"""File-replay source (T1/S10): re-emit a batch table as a Structured
Streaming file source — the monitored-folder/SFTP incremental design
(reference §4 prose) made concrete. In production the same code points
at the landing directory; ``maxFilesPerTrigger`` gives batch cadence.
"""

from __future__ import annotations

import json
import os
import shutil
from hashlib import sha1
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prueba_tecnica_analista_etl_spark.artifacts import artifact_directory
from prueba_tecnica_analista_etl_spark.session import ensure_runtime_conf
from prueba_tecnica_analista_etl_spark.sources.tables import (
    load_table,
    normalize_event_time,
)


def _staged_landing_dir(
    sf_dir: str,
    name: str,
    write: Callable[[str], T.StructType],
) -> tuple[str, T.StructType]:
    """Build-or-reuse a landing dir artifact. Landing dirs are pure
    functions of the corpus and the replay options, so they are staged
    through :func:`artifact_directory`: written once per corpus
    generation, reused by later queries and processes (rename keeps the
    stamped arrival-order mtimes). ``write(tmp)`` populates ``tmp/data``
    and returns the frame schema, which is persisted as a JSON sidecar
    so a reusing process can plan the file stream without re-deriving
    it."""

    def _build(tmp: str) -> None:
        schema = write(tmp)
        with open(os.path.join(tmp, "schema.json"), "w") as fh:
            fh.write(schema.json())

    root = artifact_directory(sf_dir, name, _build)
    with open(os.path.join(root, "schema.json")) as fh:
        schema = T.StructType.fromJson(json.load(fh))
    return os.path.join(root, "data"), schema


# Parquet chunks per landing dir: the replay's micro-batch count at
# one or two files per trigger.
REPLAY_FILES = 4


def write_replay_files(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events",
    base_dir: str | None = None,
    time_col: str = "ts",
    arrival_order: str = "range",
) -> tuple[str, T.StructType]:
    """Materialize a table as ``REPLAY_FILES`` parquet chunks in a
    fresh temp dir (the simulated landing folder). Returns (dir,
    schema).

    Chunks are range-partitioned on ``time_col``; ``arrival_order``
    controls the mtime stamping that fixes replay order:

    * ``"range"`` (default): arrival order == event-time order — the
      realistic landing-folder pattern the parity tests model.
    * ``"shuffled"``: a deterministic derangement-ish permutation of
      the range order — models DISORDERED arrival (a delayed upstream
      export landing after its successors). With a tight watermark a
      stateful consumer drops the out-of-order files' rows as late
      data — correct semantics, and exactly what the late-data DLQ
      tests (streaming/late_dlq.py) must observe.
    """
    if arrival_order not in ("range", "shuffled"):
        raise ValueError(f"unknown arrival_order {arrival_order!r}")

    def _write(out: str) -> T.StructType:
        # Must run before the read: an externally-built session (the
        # correctness driver's) lacks nanosAsLong and the ns-timestamp
        # events table fails schema conversion — this function may be a
        # query's FIRST table access, so it cannot rely on _t having
        # set the conf already.
        ensure_runtime_conf(spark)
        df = load_table(spark, sf_dir, table)
        data_dir = os.path.join(out, "data")
        if time_col in df.columns:
            chunked = df.repartitionByRange(REPLAY_FILES, time_col)
        else:
            chunked = df.repartition(REPLAY_FILES)
        chunked.write.mode("overwrite").parquet(data_dir)
        # The file stream source orders files by modification time; the
        # writer stamps every part file in the same second, so arrival
        # order would be a tie-break lottery — and one out-of-order file
        # advances the watermark past its peers, dropping them as late
        # data. Stamp strictly increasing mtimes in range order (part
        # file index == range-partition index) so replay order ==
        # event-time order, matching the landing-folder arrival pattern
        # we model.
        parts = sorted(
            f for f in os.listdir(data_dir) if f.startswith("part-")
        )
        order = list(range(len(parts)))
        if arrival_order == "shuffled":
            # Deterministic disorder (no RNG): the EARLIEST range chunk
            # arrives LAST — the "one delayed upstream export lands
            # after all its successors" incident. The delay must span
            # >= 2 micro-batches to be observable: Spark filters late
            # events against the PREVIOUS batch's watermark
            # (watermarkForLateEvents lags eviction by one batch), so
            # an adjacent-pair swap is always forgiven, while a chunk
            # arriving two+ batches late is genuinely dropped.
            order = order[1:] + order[:1]
        base_ts = os.path.getmtime(os.path.join(data_dir, parts[0]))
        for arrival_pos, part_idx in enumerate(order):
            p = os.path.join(data_dir, parts[part_idx])
            os.utime(p, (base_ts + arrival_pos, base_ts + arrival_pos))
        return df.schema

    if base_dir is not None:
        schema = _write(base_dir)
        return os.path.join(base_dir, "data"), schema

    # The None stands where a row filter used to be, so the landing
    # dirs already staged keep their keys.
    digest = sha1(
        repr((table, REPLAY_FILES, time_col, None, arrival_order)).encode()
    ).hexdigest()[:10]
    return _staged_landing_dir(sf_dir, f"replay:{table}:{digest}", _write)


def sink_dir(data_dir: str, query: str) -> str:
    """State dir of ``query``'s stream over the landing dir ``data_dir``
    (as returned by :func:`write_replay_files`): ``<landing>/_sinks/
    <query>``. Rooted INSIDE the landing-dir artifact, so a regenerated
    corpus gets a fresh sink instead of a checkpoint pointed at a path
    that no longer feeds it, a fresh process resumes the drained
    checkpoint (zero micro-batches), and a superseded generation's sink
    dies with its artifact dir."""
    return os.path.join(os.path.dirname(data_dir), "_sinks", query)


def write_overlapping_replay(
    spark: SparkSession, sf_dir: str
) -> tuple[str, T.StructType]:
    """Landing dir of the events table that models AT-LEAST-ONCE
    delivery: two files whose event_id ranges overlap (each covers 60%
    of the id space, middle 20% delivered twice), mtime-ordered so they
    arrive as separate micro-batches. The union covers every row, so an
    exactly-once consumer must emit each id exactly once while seeing
    ~1.2× rows."""
    def _write(out: str) -> T.StructType:
        ensure_runtime_conf(spark)
        df = load_table(spark, sf_dir, "events")
        lo, hi = df.agg(
            F.expr("percentile(event_id, 0.4)"),
            F.expr("percentile(event_id, 0.6)"),
        ).first()
        data_dir = os.path.join(out, "data")
        os.makedirs(data_dir)
        # NULL ids satisfy neither range predicate (three-valued logic),
        # so they ride the first half explicitly — the documented "union
        # covers every row" invariant must include identity-less rows.
        halves = [
            df.filter((F.col("event_id") <= hi) | F.col("event_id").isNull()),
            df.filter(F.col("event_id") > lo),
        ]
        base_ts = None
        for i, half in enumerate(halves):
            tmp = os.path.join(out, f"w{i}")
            half.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(
                f for f in os.listdir(tmp) if f.startswith("part-")
            )
            dst = os.path.join(data_dir, f"file-{i}.parquet")
            os.rename(os.path.join(tmp, src), dst)
            shutil.rmtree(tmp, ignore_errors=True)
            if base_ts is None:
                base_ts = os.path.getmtime(dst)
            os.utime(dst, (base_ts + i, base_ts + i))
        return df.schema

    return _staged_landing_dir(sf_dir, "replay_overlap:events:event_id", _write)


def replay_as_stream(
    spark: SparkSession,
    data_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int = 2,
) -> DataFrame:
    """File stream over the landing dir; ``maxFilesPerTrigger`` slices
    the backlog into micro-batches so multi-batch behavior (state,
    idempotency, watermark advance) is actually exercised.

    ``ts`` is re-normalized defensively: landing dirs written by
    :func:`write_replay_files` already carry ``TimestampType`` (they are
    rewritten from ``load_table`` output), but a future source pointed
    at raw NTZ files would otherwise crash every watermark consumer.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(data_dir)
    )
    return normalize_event_time(stream)
