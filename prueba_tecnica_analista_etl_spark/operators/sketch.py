"""Bounded-memory frequent items — Misra-Gries heavy-hitter sketch.

The exact heavy-hitter query (``GROUP BY key HAVING count > n/s``)
shuffles one row per DISTINCT key — at 100 TB with a high-cardinality
key (URLs, user ids, shingle fingerprints) that is the cost being
diagnosed, not paid willingly. Misra-Gries bounds the state instead:
``capacity`` counters per partition, processed in one pass, with the
classic guarantee that any item whose true count exceeds
``n_partition/(capacity+1)`` survives the partition's summary — so the
UNION of per-partition summaries contains every item with GLOBAL count
above ``n/(capacity+1)`` (if an item is absent from every summary, its
total count is at most Σ n_p/(capacity+1) = n/(capacity+1)).

:func:`frequent_items` is the two-pass exact form built on that
superset guarantee: pass 1 collects candidates (O(capacity) rows per
partition — a broadcast-sized frame, never O(distinct keys)); pass 2
re-counts ONLY the candidates exactly (broadcast semi-join + groupBy
over a frame whose distinct-key count is bounded by
capacity × partitions). Filtering the exact counts at the guarantee
threshold therefore returns EXACTLY the items with
``count > n/(capacity+1)`` — deterministic, engine-independent, and
thus oracle-checkable (q_heavy_hitters) even though the sketch itself
is approximate.

The per-batch merge is the mergeable-summaries form (Agarwal et al.,
"Mergeable Summaries", PODS 2012): vectorized ``value_counts`` per
Arrow batch, merged into the partition's counters in capacity-sized
CHUNKS with a compaction between chunks. State accounting, precisely:
the COUNTERS dict never exceeds
2×capacity entries; the transient per-batch state is the
``value_counts`` result itself, O(distinct keys in one Arrow batch) —
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` (default
10k rows), a configuration constant, NOT by the partition's
cardinality (merging a whole batch at once would let the counters
dict grow to the batch's distinct-key count; the chunked merge
removes that term).
Each compaction subtracts the (capacity+1)-st largest count from every
counter and drops non-positive ones — at most ``capacity`` survive,
each compaction removes at least (capacity+1)× the subtracted mass,
and the subtracted masses telescope the same way regardless of
chunking, which is what yields the n/(capacity+1) undercount bound.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _compact(counters: dict, capacity: int) -> dict:
    """One Misra-Gries compaction (driver-side consumers): subtract the
    (capacity+1)-st largest count from every counter, drop the
    non-positive — at most ``capacity`` survive and at least
    (capacity+1)× the subtracted mass leaves the total. The executor-
    shipped twin lives as a closure inside :func:`_mk_summarize`
    (cloudpickle-by-value constraint); keep the two 5-liners in sync."""
    if len(counters) <= capacity:
        return counters
    counts = np.sort(np.fromiter(counters.values(), dtype="int64"))
    d = int(counts[-(capacity + 1)])
    return {k: c - d for k, c in counters.items() if c - d > 0}


def _mk_summarize(col: str, capacity: int, with_counts: bool):
    """Build the ``mapInPandas`` partition summarizer as a CLOSURE —
    deliberately: a locally-defined function cloudpickles BY VALUE, so
    executors never import this package (an external driver adds the
    repo to ITS sys.path only; Python workers inherit the JVM's cwd
    and would fail a by-reference pickle of a module-level function —
    caught by the vanilla-session verify recipe). Everything the
    closure needs (compact, col, capacity) lives in its cells; the
    nested ``compact`` mirrors module-level :func:`_compact` for the
    same reason.

    The fold: vectorized ``value_counts`` per Arrow batch, merged in
    capacity-sized chunks with a compaction between chunks — the
    counters dict stays <= 2x capacity; the value_counts result itself
    is O(one Arrow batch's distinct keys), bounded by
    arrow.maxRecordsPerBatch (see the module docstring's state
    accounting). Guarantee math unchanged (each compaction removes
    >= (capacity+1)x the subtracted mass)."""

    def compact(counters: dict) -> dict:
        if len(counters) <= capacity:
            return counters
        counts = np.sort(np.fromiter(counters.values(), dtype="int64"))
        d = int(counts[-(capacity + 1)])
        return {k: c - d for k, c in counters.items() if c - d > 0}

    def summarize(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf[col].value_counts()  # vectorized per batch
            items = list(vc.items())
            for start in range(0, len(items), capacity):
                for v, c in items[start : start + capacity]:
                    counters[v] = counters.get(v, 0) + int(c)
                counters = compact(counters)
        out = {col: pd.Series(list(counters.keys()))}
        if with_counts:
            out["cnt"] = pd.Series(
                list(counters.values()), dtype="int64"
            )
        yield pd.DataFrame(out)

    return summarize


def mg_merge(items, capacity: int) -> dict:
    """Fold ``(key, count)`` pairs into a capacity-bounded Misra-Gries
    summary — the MERGE of mergeable summaries (PODS 2012): summaries
    of disjoint data slices (partitions, micro-batches) combine by
    count addition plus compaction, and the merged summary carries the
    undercount bound of the UNION (the subtracted masses telescope).
    Chunked exactly like the scan-side fold, so state is <= 2x
    capacity regardless of how many summaries stream through.
    Driver-side only (never shipped to executors) — uses the
    module-level :func:`_compact`."""
    counters: dict = {}
    pending = 0
    for k, c in items:
        counters[k] = counters.get(k, 0) + int(c)
        pending += 1
        if pending >= capacity:
            counters = _compact(counters, capacity)
            pending = 0
    return _compact(counters, capacity)


def mg_candidates(
    df: DataFrame, col: str, capacity: int = 8
) -> DataFrame:
    """Per-partition Misra-Gries candidate items for ``col`` — at most
    ``capacity`` rows per partition, one pass, Arrow-batched. The
    union over partitions is a SUPERSET of every item with global
    count > n/(capacity+1); counts are deliberately not emitted (the
    sketch's counts are lower bounds — consumers wanting numbers take
    the exact second pass, :func:`frequent_items`)."""
    return df.select(col).mapInPandas(
        _mk_summarize(col, capacity, with_counts=False),
        df.select(col).schema,
    )


def mg_summary(
    df: DataFrame, col: str, capacity: int = 8
) -> DataFrame:
    """Per-partition Misra-Gries summaries WITH their lower-bound
    counts — the mergeable form: rows from different partitions (or
    different micro-batches) feed :func:`mg_merge`, which preserves
    the n/(capacity+1) guarantee over the union. At most ``capacity``
    rows per partition; ``cnt`` is the sketch's residual counter (a
    lower bound on the true count), not an exact number."""
    import pyspark.sql.types as T

    out_schema = T.StructType(
        [df.select(col).schema[0], T.StructField("cnt", T.LongType())]
    )
    return df.select(col).mapInPandas(
        _mk_summarize(col, capacity, with_counts=True), out_schema
    )


class MGStreamAccumulator:
    """Streaming Misra-Gries: a ``foreachBatch`` accumulator that folds
    each micro-batch's per-partition summaries into ONE capacity-
    bounded counter dict — the PODS-2012 mergeable property applied
    across batches, the same foreachBatch-accumulator pattern the CDC
    upsert sink proved (streaming/upsert_sink.py).

    Per batch: one ``mg_summary`` job over the batch (executor state
    O(capacity) per partition) plus a collect of at most
    capacity × partitions rows; driver state is O(capacity) total via
    :func:`mg_merge`. After the stream drains, ``candidates()`` is a
    SUPERSET of every key whose count over the whole stream exceeds
    n/(capacity+1) — feed it to an exact re-count
    (:func:`frequent_items`-style broadcast semi-join) for the exact,
    batch-parity heavy-hitter answer (tested in
    tests/test_streaming.py against the batch fold).

    Replay semantics: replayed batch_ids are skipped. With
    ``ledger_dir`` set (the durable form), the
    seen-set AND the folded counters are persisted together after
    every successful fold (one atomic ``os.replace``, the
    ``_etl_control`` discipline applied to sketch state): a RESTARTED
    stream reloads the pair, so a checkpoint-replayed batch neither
    double-counts (it is in the persisted seen-set) nor silently
    vanishes (a crash between fold and persist loses the in-memory
    fold, the replay re-folds it — fold-then-persist is what makes the
    replay idempotent). Persisting only the seen-set would be WORSE
    than nothing: a restart would skip the replayed batch while having
    lost its mass. Without ``ledger_dir`` the pair lives in memory —
    enough for availableNow replays within one run."""

    STATE = "mg_state.json"

    def __init__(
        self,
        col: str,
        capacity: int = 8,
        ledger_dir: str | None = None,
    ) -> None:
        self.col = col
        self.capacity = capacity
        self.counters: dict = {}
        self._seen: set[int] = set()
        self._ledger_dir = ledger_dir
        if ledger_dir is not None:
            self._load()

    def _state_path(self) -> str:
        return os.path.join(self._ledger_dir, self.STATE)

    def _load(self) -> None:
        """Reload the ledger. A missing file is a first run; an
        unreadable one raises, because starting fresh would skip the
        replayed batches while having lost their mass."""
        os.makedirs(self._ledger_dir, exist_ok=True)
        try:
            with open(self._state_path()) as fh:
                state = json.load(fh)
        except FileNotFoundError:
            return
        self._seen = set(state["seen"])
        # [key, count] pairs, so a non-string key round-trips
        self.counters = dict(state["counters"])

    def _persist(self) -> None:
        tmp = self._state_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "seen": sorted(self._seen),
                    "counters": [[k, c] for k, c in self.counters.items()],
                },
                fh,
            )
        os.replace(tmp, self._state_path())

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if batch_id in self._seen:
            return
        rows = mg_summary(
            batch.filter(F.col(self.col).isNotNull()),
            self.col,
            self.capacity,
        ).collect()
        merged = list(self.counters.items()) + [
            (r[self.col], r["cnt"]) for r in rows
        ]
        self.counters = mg_merge(merged, self.capacity)
        # Ledger AFTER the work succeeds (the upsert sink's discipline):
        # marking the batch seen before the summary job completes would
        # silently SKIP a failed-then-replayed batch, dropping its mass
        # from the sketch and voiding the superset guarantee
        # q_stream_heavy_hitters' oracle-exactness rests on.
        self._seen.add(batch_id)
        if self._ledger_dir is not None:
            self._persist()

    def candidates(self) -> list:
        return list(self.counters)


def frequent_items(
    df: DataFrame,
    col: str,
    capacity: int = 8,
) -> DataFrame:
    """Exact counts of the Misra-Gries candidate set: ``(col, cnt)``
    for a superset of every item with count > n/(capacity+1). The
    candidate frame is capacity×partitions rows (broadcast); the
    second pass scans once more and aggregates only candidate keys —
    state O(candidates), never O(distinct keys). NULLs are excluded
    (a NULL key is a data-quality signal, not a heavy hitter —
    q_null_range_checks' census owns it)."""
    keyed = df.filter(F.col(col).isNotNull())
    cand = mg_candidates(keyed, col, capacity).distinct()
    return (
        keyed.join(F.broadcast(cand), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
