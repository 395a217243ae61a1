"""Stateful streaming upsert sink (T5/T7/T8): the reference's
staging→UPSERT procedure per micro-batch, via ``foreachBatch`` — one
sink, :func:`foreach_batch_upsert`, for whole and partitioned targets.

Each micro-batch is merged into a slice of a parquet target (the whole
target, or the partitions the batch touches) with the J4
join-rewrite, written to a staging dir and swapped in with
``artifacts.replace`` (the metastore-free equivalent of the
reference's re-runnable DROP+ADD idempotency: every crash point leaves
the old or the new target, which ``artifacts.recover`` restores before
the next merge decision). An ``etl_control`` ledger records (batch_id, estado,
filas) per batch — reference design ``nb:372``/``nb:356`` — and makes
replays idempotent: an already-recorded batchId is skipped, so
at-least-once delivery becomes effectively-once in the sink.

DLQ (T6): rows failing the caller's rules are routed to
``{target}/_rejects`` with a ``reject_reason`` column instead of
poisoning the merge. Reject writes are scoped to a
``batch_id=<n>`` partition dir and OVERWRITE it, so a replayed
in-flight batch (crash after the reject write but before the ledger
row committed) replaces its own partial output instead of appending a
duplicate — the DLQ is idempotent under replay, same as the merge.
Readers get the batch id back as a partition column for free.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable, Sequence
from typing import TypeVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import (
    recover,
    replace,
    staging,
)
from prueba_tecnica_analista_etl_spark.operators.dedupe import keep_first
from prueba_tecnica_analista_etl_spark.operators.quality import split_rejects
from prueba_tecnica_analista_etl_spark.operators.upsert import (
    cdc_apply,
    upsert,
)

CONTROL = "_etl_control"
REJECTS = "_rejects"
DATA = "data"


_R = TypeVar("_R")


def run_with_retry(
    fn: Callable[[], _R],
    attempts: int = 3,
    backoff_s: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> _R:
    """Driver-side retry with exponential backoff (T8, reference design
    ``nb:372``): transient failures (executor loss, storage hiccups)
    get ``attempts`` tries with 1×, 2×, 4×… ``backoff_s`` waits; the
    idempotent batch ledger makes a retried ``process(batch, id)`` a
    safe no-op for work that already committed. Last failure re-raises
    so the caller's control table records the batch as failed, not
    silently skipped."""
    last: BaseException | None = None
    for i in range(attempts):
        try:
            return fn()
        except Exception as ex:  # noqa: BLE001 - retry then re-raise
            last = ex
            if i < attempts - 1:
                sleep(backoff_s * (2**i))
    assert last is not None
    raise last


def _paths(target: str) -> tuple[str, str, str]:
    return (
        os.path.join(target, DATA),
        os.path.join(target, CONTROL),
        os.path.join(target, REJECTS),
    )


def _write_rejects(rejected: DataFrame, rej_path: str, batch_id: int) -> None:
    """Idempotent DLQ write: each batch owns ``{rej}/batch_id=<n>`` and
    OVERWRITES it, so a replayed in-flight batch (crash between the
    reject write and the ledger commit) replaces its own partial dir
    rather than appending duplicates. ``spark.read.parquet(rej_path)``
    surfaces ``batch_id`` as a partition column."""
    rejected.write.mode("overwrite").parquet(
        os.path.join(rej_path, f"batch_id={batch_id}")
    )


def read_control(spark: SparkSession, target: str) -> DataFrame | None:
    ctrl = _paths(target)[1]
    if not os.path.exists(ctrl):
        return None
    return spark.read.parquet(ctrl)


def _append_ledger(
    spark: SparkSession, ctrl_path: str, batch_id: int, rows: int
) -> None:
    """Commit a batch's ledger row, the last step of the sink: a crash
    anywhere before it leaves the batch unrecorded, so its replay
    re-runs the (idempotent) merge and swap."""
    spark.createDataFrame(
        [(int(batch_id), "OK", int(rows))],
        "batch_id long, estado string, filas long",
    ).write.mode("append").parquet(ctrl_path)


def _touched_partitions(batch: DataFrame, partition_col: str) -> Column:
    """Predicate for the partitions ``batch`` falls in. ``isin()``
    never matches NULL (SQL three-valued logic), but a NULL partition
    value lands in ``__HIVE_DEFAULT_PARTITION__`` and its dir IS
    swapped, so without the explicit ``isNull`` branch the base rows of
    that partition would be left out of the merge and silently dropped
    by the swap."""
    vals = [r[0] for r in batch.select(partition_col).distinct().collect()]
    nonnull = [v for v in vals if v is not None]
    touched = F.col(partition_col).isin(nonnull) if nonnull else F.lit(False)
    if len(nonnull) < len(vals):
        touched = touched | F.col(partition_col).isNull()
    return touched


def foreach_batch_upsert(
    spark: SparkSession,
    target: str,
    keys: Sequence[str],
    rules: dict[str, Column] | None = None,
    op_col: str | None = None,
    cdc_order: Sequence[Column | str] | None = None,
    partition_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` callback, run by
    ``windows.drain_available_now``::

        drain_available_now(
            stream.writeStream.foreachBatch(
                foreach_batch_upsert(spark, target, ["event_id"])
            ),
            state_dir,
        )

    Each micro-batch rewrites one SLICE of the target: with
    ``partition_col`` the target is laid out as
    ``data/{partition_col}={v}/…`` and the slice is the partitions the
    batch's keys fall in (read partition-pruned, swapped in leaf by
    leaf, untouched partitions never opened — O(|touched partitions| +
    |batch|) per batch, the 100 TB shape). Without it the slice is the
    whole target, read and rewritten every batch — O(|target|), fine
    for dimension-sized targets. ``partition_col`` must be a stable
    function of the key columns, otherwise a key could move between
    partitions and survive in two places. The ledger's ``filas``
    counts the rewritten slice.

    ``op_col`` switches the sink from pure upsert to CDC-APPLY: the
    stream is an ordered change log whose ``op_col`` may carry
    ``D`` (delete) rows, each micro-batch is compacted to its final
    op per key under ``cdc_order`` (descending change-time — REQUIRED
    with ``op_col``, because 'last op wins' is meaningless without a
    total order), deletes remove target keys, everything else merges
    as usual, and the ``op_col`` never reaches the target schema.
    With ``rules``, validation applies to the FINAL non-delete op per
    key (post-compaction); delete markers bypass rules entirely —
    they carry no payload to validate — and a rejected final upsert
    leaves its key untouched instead of applying a superseded op.
    This is the streaming materialization of a Debezium/Kafka-compact
    changefeed, sharing the sink's idempotency ledger (a replayed
    batch re-applies the same compacted ops — a fixpoint). CDC runs on
    the whole-target shape only.
    """
    if op_col is not None and cdc_order is None:
        raise ValueError("op_col requires cdc_order (last-op order)")
    if op_col is not None and partition_col is not None:
        raise ValueError("op_col requires a whole target (no partition_col)")
    data_path, ctrl_path, rej_path = _paths(target)

    def process(batch: DataFrame, batch_id: int) -> None:
        ctrl = read_control(spark, target)
        if ctrl is not None and (
            ctrl.filter(ctrl.batch_id == batch_id).limit(1).count() > 0
        ):
            return  # replayed batch → already merged (idempotent)

        # the batch feeds the reject split, the DLQ write and the
        # merge — persist once instead of re-evaluating the source
        # (and the rules) for each action
        src = batch.persist()
        batch = src
        try:
            # upsert()/cdc_apply() require the incoming side unique on
            # the keys (an at-least-once source can double a key
            # WITHIN one batch — e.g. overlapping landing files). For
            # plain upsert the survivor pick is arbitrary (duplicates
            # are redeliveries of the same row); for CDC the pick MUST
            # be the newest op, so the compaction uses cdc_order.
            #
            # Order vs rules: in CDC mode compaction runs FIRST and
            # rules see only the FINAL non-delete op per key. Delete
            # markers bypass validation by design (they typically
            # carry NULL payload columns, which ordinary rules would
            # quarantine — silently losing the delete); and a
            # rejected final upsert quarantines its key untouched
            # rather than resurrecting a superseded older op.
            if op_col is not None:
                batch = keep_first(batch, keys, cdc_order)
                if rules:
                    is_delete = F.col(op_col).eqNullSafe("D")
                    accepted, rejected = split_rejects(
                        batch.filter(~is_delete), rules
                    )
                    if rejected.limit(1).count() > 0:
                        _write_rejects(rejected, rej_path, batch_id)
                    batch = accepted.unionByName(
                        batch.filter(is_delete)
                    )
            else:
                if rules:
                    batch, rejected = split_rejects(batch, rules)
                    if rejected.limit(1).count() > 0:
                        _write_rejects(rejected, rej_path, batch_id)
                batch = batch.dropDuplicates(list(keys))

            recover(data_path)
            touched = (
                None
                if partition_col is None
                else _touched_partitions(batch, partition_col)
            )

            def target_slice() -> DataFrame:
                df = spark.read.option("basePath", data_path).parquet(
                    data_path
                )
                return df if touched is None else df.filter(touched)

            if os.path.exists(data_path):
                base = target_slice()
                if op_col is not None:
                    merged = cdc_apply(
                        base,
                        batch.select(*base.columns, op_col),
                        keys,
                        op_col=op_col,
                    )
                else:
                    merged = upsert(
                        base, batch.select(*base.columns), keys
                    )
            elif op_col is not None:
                # first batch: the target is born from the surviving
                # (non-delete) final ops.  eqNullSafe, matching
                # cdc_apply's contract — a NULL op is an upsert, and
                # `!= "D"` would evaluate NULL and silently
                # drop it on exactly (and only) the batch where the
                # target does not exist yet.
                merged = batch.filter(
                    ~F.col(op_col).eqNullSafe("D")
                ).drop(op_col)
            else:
                merged = batch

            # write-then-swap: the target is never half-written and
            # never lost; with partitions each leaf is old or new at
            # every crash point
            staged = staging(data_path)
            if partition_col is None:
                merged.write.parquet(staged)
                replace(data_path, staged)
            else:
                merged.write.partitionBy(partition_col).parquet(staged)
                os.makedirs(data_path, exist_ok=True)
                for d in sorted(os.listdir(staged)):
                    if d.startswith(f"{partition_col}="):
                        replace(
                            os.path.join(data_path, d),
                            os.path.join(staged, d),
                        )
                shutil.rmtree(staged, ignore_errors=True)

            # metadata-only count (parquet footers), not a data scan
            _append_ledger(spark, ctrl_path, batch_id, target_slice().count())
        finally:
            src.unpersist()

    return process
