"""Late-data DLQ (T6 × watermark semantics): capture what the
watermark would drop, instead of losing it silently.

Spark's contract for a watermarked stateful aggregation is that a row
older than ``max(event time seen so far) - delay`` is DROPPED — the
state for its window was already finalized and evicted, so admitting
the row would mean unbounded state. That is the right trade at 100 TB,
but "dropped" must never mean "unaccounted for": a disordered landing
folder (one delayed upstream export arriving after its successors) can
silently lose whole files' worth of rows into that rule. SCALE.md §3
documents the hazard; this module is the production answer:

``late_dlq_sink`` is a ``foreachBatch`` router that reproduces the
watermark rule EXPLICITLY — per micro-batch, rows older than the
watermark derived from *prior* batches go to a dead-letter directory,
everything else to the main directory — so main ∪ DLQ == input, always.
Downstream, the main directory feeds the (now drop-free) aggregation
and the DLQ feeds reconciliation/backfill, exactly the reject-routing
discipline of streaming/upsert_sink.py applied to time instead of
validity rules.

Scale shape: the split is two pushdown-able filters on the batch (one
scan, no shuffle); the watermark state is ONE timestamp per completed
batch in a JSON sidecar (idempotent under batch replay: batch N's
threshold is computed only from batches < N, so reprocessing N after a
crash re-derives the identical split — the same ledger discipline as
the upsert sink's ``_etl_control``).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATE = "_late_dlq_state.json"


def _load_state(root: str) -> dict[str, float]:
    """The watermark ledger. A missing file is a first run; an
    unreadable one raises, because an empty ledger would reset the
    threshold and send late rows to ``main``, where the watermark
    drops them."""
    try:
        with open(os.path.join(root, STATE)) as fh:
            return {k: float(v) for k, v in json.load(fh).items()}
    except FileNotFoundError:
        return {}


def _store_state(root: str, state: dict[str, float]) -> None:
    tmp = os.path.join(root, STATE + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, os.path.join(root, STATE))


def late_dlq_sink(
    root: str,
    delay_seconds: float = 0.0,
    time_col: str = "ts",
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function routing each micro-batch into
    ``{root}/main`` (on-time) and ``{root}/dlq`` (late) parquet dirs.

    A row is LATE in batch N iff its event time is strictly below
    ``max(event time over batches < N) - delay_seconds`` — Spark's
    watermark rule, applied visibly and WITHOUT the engine's one-batch
    grace (Spark filters late events against the previous batch's
    watermark; this router uses the current one, i.e. it is the
    strictly-conservative variant: everything Spark would drop lands
    in the DLQ, plus rows Spark's lag happens to forgive). Writes are idempotent per batch
    (``batch_id=<n>`` subdirs, overwritten on replay), and the
    watermark ledger records one max-timestamp per completed batch so
    a replayed batch re-derives the identical threshold.
    """
    os.makedirs(root, exist_ok=True)

    def process(batch: DataFrame, batch_id: int) -> None:
        state = _load_state(root)
        prior = [v for k, v in state.items() if int(k) < batch_id]
        threshold = max(prior) - delay_seconds if prior else None

        # Three actions consume the batch (two routed writes + the
        # ledger max) — persist so the micro-batch's source files are
        # read once, not three times (the one-scan claim above).
        batch.persist()
        ts = F.col(time_col).cast("timestamp")
        # NULL event times are un-watermarkable and belong in the DLQ
        # UNCONDITIONALLY — including in the first batch, when no
        # prior threshold exists yet: a downstream watermarked
        # aggregation silently drops NULL-ts rows, which is exactly
        # the silent-loss class this router exists to prevent.
        if threshold is None:
            late = batch.filter(ts.isNull())
            ontime = batch.filter(ts.isNotNull())
        else:
            cut = F.lit(
                datetime.fromtimestamp(threshold, tz=timezone.utc)
            ).cast("timestamp")
            late = batch.filter((ts < cut) | ts.isNull())
            ontime = batch.filter(ts >= cut)
        for name, part in (("main", ontime), ("dlq", late)):
            part.write.mode("overwrite").parquet(
                os.path.join(root, name, f"batch_id={batch_id}")
            )
        # Ledger AFTER the writes: a crash between them replays the
        # batch into the same subdirs with the same threshold.
        batch_max = batch.agg(
            F.max(ts.cast("double")).alias("m")
        ).first()["m"]
        batch.unpersist()
        if batch_max is not None:
            state[str(batch_id)] = max(
                batch_max, state.get(str(batch_id), float("-inf"))
            )
            _store_state(root, state)

    return process


def read_routed(spark, root: str, which: str) -> DataFrame | None:
    """Batch read of the ``main`` or ``dlq`` side written by
    :func:`late_dlq_sink` (empty-dir-safe: returns None if the side
    never received a batch)."""
    path = os.path.join(root, which)
    if not os.path.isdir(path) or not os.listdir(path):
        return None
    return spark.read.option("basePath", path).parquet(
        os.path.join(path, "batch_id=*")
    )
