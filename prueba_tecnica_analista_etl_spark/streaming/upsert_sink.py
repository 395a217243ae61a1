"""Stateful streaming upsert sink (T5/T7/T8): the reference's
staging→UPSERT procedure per micro-batch, via ``foreachBatch``.

Each micro-batch is merged into a parquet target with the J4
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


def foreach_batch_upsert(
    spark: SparkSession,
    target: str,
    keys: Sequence[str],
    rules: dict[str, Column] | None = None,
    op_col: str | None = None,
    cdc_order: Sequence[Column | str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` callback. Usage::

        stream.writeStream.foreachBatch(
            foreach_batch_upsert(spark, target, ["event_id"])
        ).trigger(availableNow=True).start()

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
    batch re-applies the same compacted ops — a fixpoint).

    Scale note: this variant reads and REWRITES the whole target every
    micro-batch — O(|target|) per batch, fine for harness-sized targets
    but a scale-killer against a 100 TB base. At scale use
    :func:`foreach_batch_upsert_partitioned` (rewrites only the
    partitions containing incoming keys) or a bucketed/Delta target.
    """
    if op_col is not None and cdc_order is None:
        raise ValueError("op_col requires cdc_order (last-op order)")
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
            if os.path.exists(data_path):
                base = spark.read.parquet(data_path)
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
            # never lost
            staged = staging(data_path)
            merged.write.parquet(staged)
            replace(data_path, staged)

            # metadata-only count (parquet footers), not a data scan
            n = spark.read.parquet(data_path).count()
            spark.createDataFrame(
                [(int(batch_id), "OK", int(n))],
                "batch_id long, estado string, filas long",
            ).write.mode("append").parquet(ctrl_path)
        finally:
            src.unpersist()

    return process


def foreach_batch_upsert_partitioned(
    spark: SparkSession,
    target: str,
    keys: Sequence[str],
    partition_col: str,
    rules: dict[str, Column] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Partition-scoped streaming upsert (the 100 TB shape of T5).

    The target is laid out as ``data/{partition_col}={v}/…`` and each
    micro-batch rewrites ONLY the partitions its keys fall in: the base
    is read partition-pruned to the batch's partition values, merged
    with the J4 join-rewrite, written to a staging dir, and the touched
    partition dirs are swapped in one by one with ``artifacts.replace``
    (each leaf is old or new at every crash point; a replayed batch
    re-merges idempotently). Untouched partitions'
    files are never opened, let alone rewritten — per-batch cost is
    O(|touched partitions| + |batch|), not O(|target|).

    ``partition_col`` must be a stable function of the key columns
    (e.g. a date or hash-bucket of the key), otherwise a key could move
    between partitions and survive in two places.

    The ``filas`` ledger column records rows in the REWRITTEN slice
    (counting the whole target would be the O(|target|) scan this
    variant exists to avoid).
    """
    data_path, ctrl_path, rej_path = _paths(target)

    def process(batch: DataFrame, batch_id: int) -> None:
        ctrl = read_control(spark, target)
        if ctrl is not None and (
            ctrl.filter(ctrl.batch_id == batch_id).limit(1).count() > 0
        ):
            return

        src = batch.persist()
        batch = src
        try:
            if rules:
                batch, rejected = split_rejects(batch, rules)
                if rejected.limit(1).count() > 0:
                    _write_rejects(rejected, rej_path, batch_id)

            # intra-batch key uniqueness — upsert()'s precondition;
            # see the whole-target variant for the rationale
            batch = batch.dropDuplicates(list(keys))

            recover(data_path)
            vals = [
                r[0]
                for r in batch.select(partition_col).distinct().collect()
            ]
            # isin() never matches NULL (SQL three-valued logic), but a
            # NULL partition value lands in __HIVE_DEFAULT_PARTITION__
            # and its dir IS swapped below — without the explicit
            # isNull branch the base rows of that partition would be
            # excluded from the merge and silently dropped by the swap.
            nonnull = [v for v in vals if v is not None]
            touched = (
                F.col(partition_col).isin(nonnull)
                if nonnull
                else F.lit(False)
            )
            if len(nonnull) < len(vals):
                touched = touched | F.col(partition_col).isNull()
            if os.path.exists(data_path):
                base_slice = (
                    spark.read.option("basePath", data_path)
                    .parquet(data_path)
                    .filter(touched)
                )
                merged = upsert(
                    base_slice, batch.select(*base_slice.columns), keys
                )
            else:
                merged = batch

            staged = staging(data_path)
            merged.write.partitionBy(partition_col).parquet(staged)
            os.makedirs(data_path, exist_ok=True)
            for d in sorted(os.listdir(staged)):
                if d.startswith(f"{partition_col}="):
                    replace(
                        os.path.join(data_path, d), os.path.join(staged, d)
                    )
            shutil.rmtree(staged, ignore_errors=True)

            n_slice = (
                spark.read.option("basePath", data_path)
                .parquet(data_path)
                .filter(touched)
                .count()
            )
            spark.createDataFrame(
                [(int(batch_id), "OK", int(n_slice))],
                "batch_id long, estado string, filas long",
            ).write.mode("append").parquet(ctrl_path)
        finally:
            src.unpersist()

    return process
