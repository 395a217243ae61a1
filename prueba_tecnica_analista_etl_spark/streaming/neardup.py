"""Streaming near-duplicate gate — the banded-minhash twin of the
exact-id streaming dedup (T10): each micro-batch of incoming documents
is admitted only if it is NOT a near-duplicate (exact Jaccard >=
threshold over shingle hashes) of any ALREADY-ACCEPTED document, and
within a batch the greedy min-id survivor rule applies — so the
drained accepted set equals the batch greedy purge FIXPOINT
(``stages.dedup.near_dup_purge_stable``) over the full corpus,
provided arrival order is id order (range-partitioned replay). This
is the "dedupe the incoming crawl against the corpus" operator of a
training-data ingestion pipeline: the batch family
(q_minhash_dedup / q_corpus_curate) curates a CORPUS AT REST, this
gate curates a FEED.

The gate is UNCAPPED within a bucket by design: the at-rest tiers
sub-split oversized (band, key) buckets for bounded all-pairs output
(``capped_pair_array``), but a GATE that admitted a doc because its
accepted match sat in another skew chunk would be a quality bug — and
an incremental consumer could not reproduce chunk boundaries that
depend on the FINAL bucket membership anyway. Per-unit work is
bounded by the micro-batch (trigger sizing), and index buckets stay
naturally small: accepted docs are mutually NON-near-dup by
construction, so band collisions among them are the banding's
false-positive rate, not dup-family mass.

State design (the 100 TB shape):

* The accepted index is a parquet directory with one subdirectory
  per committed micro-batch, created with ``artifacts.publish``, so
  the batch id doubles as the idempotency ledger: a replayed batch finds its
  directory — or a generation covering its id — and is a no-op (the
  ``_etl_control`` discipline without a side table). Each unit holds
  TWO frames — ``keys/`` = (doc_id, band, key) and ``docs/`` =
  (doc_id, hs) — so the per-doc shingle-hash array is stored ONCE,
  not once per band, and the (band, key) probe shuffles only ids and
  band keys. Once the unit count exceeds ``COMPACT_MAX_UNITS`` the
  gate FOLDS them into one ``gen-{newest batch id}`` directory
  (``compact_index``): probe cost and file listing stay bounded
  over a long-running stream instead of growing one dir pair per
  batch. Each unit's ``keys/`` is PARTITIONED by ``kb =
  pmod(xxhash64(band, key), KB_BUCKETS)``: the probe pushes its
  own kb values as a literal partition filter, so probing a huge
  at-rest index reads only the buckets the micro-batch can match.
* Per-batch work: ONE banded-signature pass over the batch (the
  md5_60 minhash family — engine-neutral, identical to the batch
  tier; localCheckpoint'ed and reused by the probe, the intra-batch
  pair derivation, and the index append), one (band, key) index
  probe + hs join + exact-Jaccard filter, one intra-batch greedy
  purge over pairs derived FROM the checkpointed banded frame
  (``pairs_from_band_frame`` — no second shingle pass). Nothing
  scans the accepted corpus text — only its signature index.

Sequential-equivalence argument (why drained == batch greedy purge):
accepted docs of earlier batches are exactly the global greedy
survivors below this batch's id range (induction); an index-matched
batch doc is dropped regardless of intra-batch pairs; the remainder's
intra-batch greedy fixpoint equals processing the remainder in id
order (``near_dup_purge`` semantics, ghost endpoints excluded). A doc
whose only near-dup was itself dropped (by the index or by a smaller
survivor) is re-admitted — the chain rule the one-shot "drop every
doc_b" would get wrong.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import publish, recover
from prueba_tecnica_analista_etl_spark.functions.text import jaccard
from prueba_tecnica_analista_etl_spark.stages.dedup import (
    near_dup_purge_stable,
)

# Fold loose batch-* dirs into a consolidated gen-* directory once the
# live unit count exceeds this: an append-only index grows one
# directory pair per committed batch, so per-batch probe cost and file
# listing would grow O(batches) — the small-files class
# sources/files.py solves for tables at rest, applied to the gate's
# index. 16 units ≈ the probe reads at most 15 batch dirs + the
# newest generation between folds.
COMPACT_MAX_UNITS = 16

# Probe-side index layout: every unit's ``keys/`` frame is written
# partitioned by ``kb = pmod(xxhash64(band, key), KB_BUCKETS)``, and
# the probe pushes the micro-batch's OWN kb values as a literal
# partition filter — so a probe over a huge at-rest index reads only
# the partitions its (band, key) pairs can possibly match instead of
# every generation's full keys frame. Candidates are preserved
# exactly: equal (band, key) implies equal kb. Pruning strength
# scales inversely with batch size (a small probe touches few
# buckets; a batch covering all buckets degrades to the full scan it
# would have done anyway).
KB_BUCKETS = 16


def _kb_col() -> "F.Column":
    return F.pmod(
        F.xxhash64(F.col("band"), F.col("key")), F.lit(KB_BUCKETS)
    ).cast("int")


def _has_keys(unit: str) -> bool:
    """Whether ``unit``'s ``keys/`` holds any kb partition: a zero-row
    partitioned write leaves no data files at all, and schema inference
    over nothing would throw, so readers skip such a unit."""
    kd = os.path.join(unit, "keys")
    return os.path.isdir(kd) and any(
        n.startswith("kb=") for n in os.listdir(kd)
    )


def read_index_keys(
    spark, units: "list[str]", probe_kbs: "list[int] | None" = None
) -> "DataFrame | None":
    """Union the committed units' ``keys/`` frames as (doc_id, band,
    key), pruned to ``probe_kbs`` when given. Returns None when no
    unit holds any keys data."""
    frames = []
    # One read PER unit: multiple partition-discovery roots in a
    # single read conflict (KD009) — and the unit count is bounded by
    # the compaction caps, so the union stays small.
    for u in filter(_has_keys, units):
        df = spark.read.parquet(os.path.join(u, "keys"))
        if probe_kbs is not None:
            df = df.filter(F.col("kb").isin(list(probe_kbs)))
        frames.append(df.drop("kb"))
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _committed(index_dir: str) -> list[str]:
    """Data units of the index: consolidated generations first, then
    loose per-batch dirs. Every unit holds the same two frames
    (``keys/``, ``docs/``), so readers union them uniformly."""
    return sorted(
        os.path.join(index_dir, n)
        for n in os.listdir(index_dir)
        if n.startswith(("batch-", "gen-"))
    )


def _max_gen_id(index_dir: str) -> int:
    """Largest batch id covered by any consolidated generation (-1 if
    none). ``gen-{id}`` is named by the NEWEST batch it folded; batch
    ids are sequential per checkpoint, so every id <= that is
    committed even though its own dir was folded away."""
    best = -1
    if os.path.isdir(index_dir):
        for n in os.listdir(index_dir):
            if n.startswith("gen-"):
                best = max(best, int(n.split("-")[1]))
    return best


def _is_committed(index_dir: str, batch_id: int) -> bool:
    """The replay-idempotency ledger, generation-aware: a batch is
    committed iff its own dir survived OR a generation folded it
    (its id is <= the generation's covering id)."""
    if os.path.isdir(os.path.join(index_dir, f"batch-{batch_id:09d}")):
        return True
    return batch_id <= _max_gen_id(index_dir)


def _fold_units(spark, index_dir: str, units: "list[str]") -> bool:
    """Consolidate ``units`` (batch and/or gen dirs) into ONE new
    generation with ``artifacts.publish``. The target name
    is ``gen-{max covered batch id:09d}-{seq}`` with ``seq`` one past
    any existing generation's sequence for that id, so the new dir
    NEVER collides with a unit being folded — the rename lands FIRST
    and the folded units are removed only after it, which makes every
    crash window additive (duplicate rows across units, which every
    reader distincts away and the next fold's ``dropDuplicates``
    heals), never subtractive."""
    ids = []
    for u in units:
        parts = os.path.basename(u).split("-")
        ids.append(int(parts[1]))
    gen_id = max(ids)
    # seq is one past ANY existing generation's sequence for the
    # target id — across the whole index dir, not just the folded
    # units: after a crash between the gen rename and
    # the folded dirs' removal, a retried fold of the same batches
    # would otherwise re-target the already-existing gen-{id}-{seq},
    # pay the full rewrite, fail the rename, and repeat that waste on
    # every compact_index call until a newer batch id arrived. With
    # the global max the retry lands at the next free sequence and
    # removes the stale duplicates immediately.
    max_seq = 0
    for n in os.listdir(index_dir):
        parts = n.split("-")
        if parts[0] == "gen" and len(parts) > 2 and int(parts[1]) == gen_id:
            max_seq = max(max_seq, int(parts[2]))
    target = os.path.join(index_dir, f"gen-{gen_id:09d}-{max_seq + 1}")
    keys = read_index_keys(spark, units)
    if keys is not None:
        keys = keys.dropDuplicates(["doc_id", "band", "key"])
    docs = spark.read.parquet(
        *[os.path.join(u, "docs") for u in units]
    ).dropDuplicates(["doc_id"])

    def fill(tmp: str) -> None:
        if keys is None:
            # every folded unit was keys-empty: keep the invariant that
            # a unit HAS a keys dir (readers skip an empty one)
            os.makedirs(os.path.join(tmp, "keys"))
        else:
            keys.withColumn("kb", _kb_col()).write.partitionBy(
                "kb"
            ).parquet(os.path.join(tmp, "keys"))
        docs.write.parquet(os.path.join(tmp, "docs"))

    if not publish(target, fill):
        return False
    for u in units:
        shutil.rmtree(u, ignore_errors=True)
    return True


# Merge generations once this many accumulate. Tiered cadence: loose
# batch dirs fold into a new generation every ~COMPACT_MAX_UNITS
# batches (each fold rewrites only those batches' rows), and only
# every COMPACT_MAX_GENS folds does the index pay a full rewrite — so
# total bytes rewritten over a stream of N batches is
# O(N·(1 + N/(COMPACT_MAX_UNITS·COMPACT_MAX_GENS))) instead of the
# single-tier O(N²/COMPACT_MAX_UNITS).
COMPACT_MAX_GENS = 8


def compact_index(spark, index_dir: str) -> bool:
    """TIERED index compaction: each fold is one ``artifacts.publish``,
    like the per-batch commits.

    Tier 1: once the live unit count exceeds ``COMPACT_MAX_UNITS``,
    fold the LOOSE batch dirs into one new generation (rewrites only
    those batches' rows — the common, cheap fold). Tier 2: once
    generations themselves exceed ``COMPACT_MAX_GENS``, merge all
    generations into one (the rare full rewrite). Directory count
    therefore stays bounded by their sum while amortized rewrite stays
    near-linear in stream length (single-tier everything-folds was
    O(N²/COMPACT_MAX_UNITS) bytes over N batches).

    Replay idempotency is PRESERVED, not bypassed: generations are
    named by the newest batch id they cover, and because foreachBatch
    ids are sequential per checkpoint, "my dir exists OR my id <= the
    newest generation's id" (``_is_committed``) recognizes every
    folded batch. Every crash window is additive-only (see
    ``_fold_units``). Call ONLY under the drain lock (the same
    serialization the batch commits run under).
    """
    units = _committed(index_dir)
    did = False
    if len(units) > COMPACT_MAX_UNITS:
        batches = [
            u
            for u in units
            if os.path.basename(u).startswith("batch-")
        ]
        if len(batches) >= 2:
            did = _fold_units(spark, index_dir, batches)
    gens = [
        u
        for u in _committed(index_dir)
        if os.path.basename(u).startswith("gen-")
    ]
    if len(gens) > COMPACT_MAX_GENS:
        did = _fold_units(spark, index_dir, gens) or did
    return did


def foreach_batch_neardup_gate(
    index_dir: str,
    band_frame: Callable[[DataFrame], DataFrame],
    pairs_from_bands: Callable[[DataFrame, float], DataFrame],
    threshold: float,
):
    """Build the foreachBatch function of the gate.

    ``band_frame`` maps a documents frame to its banded signature rows
    ``(doc_id, hs, band, key)``; ``pairs_from_bands(banded,
    threshold)`` maps a banded frame to its intra-frame near-dup pairs
    at the GIVEN threshold (both injected — typically
    ``stages.dedup.minhash_band_frame`` over ``shingle_frame`` and a
    ``pairs_from_band_frame(..., cap=None)`` wrapper — so the gate
    stays generic over signature schemes, and ONE ``threshold``
    governs both the cross-batch probe and the intra-batch purge)."""
    os.makedirs(index_dir, exist_ok=True)

    def apply(batch: DataFrame, batch_id: int) -> None:
        accept_dir = os.path.join(index_dir, f"batch-{batch_id:09d}")
        if _is_committed(index_dir, batch_id):
            return  # replayed batch: already committed — fixpoint
        # staging dirs of a writer that crashed mid-commit are never
        # read, but would accumulate dead data in the long-lived index
        recover(index_dir)
        s = batch.sparkSession
        # ONE signature pass per batch: the checkpointed banded frame
        # feeds the probe join, the intra-batch pair derivation, and
        # the index append (without truncation the Arrow/shingle
        # subtree would re-run per consumer). Unpersisted in the
        # finally below — a long-running stream would otherwise
        # accumulate one checkpointed RDD's executor storage per
        # micro-batch until driver GC got around to it.
        banded = band_frame(batch).localCheckpoint()
        try:
            _gate_one_batch(s, banded, accept_dir)
        finally:
            # drop the checkpointed blocks deterministically instead
            # of waiting for the driver to GC the RDD reference
            banded.unpersist()
        # Fold the index once it holds too many loose units — under
        # the same drain serialization as the commit itself, so no
        # concurrent reader/writer sees a half-fold.
        compact_index(s, index_dir)

    def _gate_one_batch(s, banded: DataFrame, accept_dir: str) -> None:
        doc_hs = banded.select("doc_id", "hs").dropDuplicates(["doc_id"])
        committed = _committed(index_dir)
        idx_keys = None
        if committed:
            # The probe's OWN kb values become a literal partition
            # filter on the index read — at most KB_BUCKETS ints, so
            # the collect is driver-bounded by a constant.
            probe_kbs = [
                r[0]
                for r in banded.select(_kb_col().alias("kb"))
                .distinct()
                .collect()
            ]
            idx_keys = read_index_keys(s, committed, probe_kbs)
        if idx_keys is not None:
            idx_docs = s.read.parquet(
                *[os.path.join(p, "docs") for p in committed]
            )
            cand = (
                banded.alias("n")
                .join(
                    idx_keys.alias("o"),
                    (F.col("n.band") == F.col("o.band"))
                    & (F.col("n.key") == F.col("o.key")),
                )
                .select(
                    F.col("n.doc_id").alias("new_id"),
                    F.col("o.doc_id").alias("old_id"),
                )
                .distinct()
            )
            matched = (
                cand.join(
                    doc_hs.select(
                        F.col("doc_id").alias("new_id"),
                        F.col("hs").alias("new_hs"),
                    ),
                    "new_id",
                )
                .join(
                    idx_docs.select(
                        F.col("doc_id").alias("old_id"),
                        F.col("hs").alias("old_hs"),
                    ),
                    "old_id",
                )
                .filter(
                    jaccard(F.col("new_hs"), F.col("old_hs"))
                    >= F.lit(threshold)
                )
                .select(F.col("new_id").alias("doc_id"))
                .distinct()
            )
            rem_banded = banded.join(matched, "doc_id", "left_anti")
        else:
            rem_banded = banded
        # Intra-batch greedy min-id survivors over the remainder only:
        # pairs whose endpoint was index-dropped impose no constraint
        # (near_dup_purge's ghost-endpoint rule, applied by
        # construction since pairs derive FROM the remainder's banded
        # rows).
        remainder = rem_banded.select("doc_id").distinct()
        survivors, _audit = near_dup_purge_stable(
            remainder, pairs_from_bands(rem_banded, threshold)
        )
        accepted = banded.join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )

        def fill(tmp: str) -> None:
            accepted.select("doc_id", "band", "key").withColumn(
                "kb", _kb_col()
            ).write.partitionBy("kb").parquet(os.path.join(tmp, "keys"))
            accepted.select("doc_id", "hs").dropDuplicates(
                ["doc_id"]
            ).write.parquet(os.path.join(tmp, "docs"))

        # a lost publish race (another resume of the same checkpoint)
        # keeps the winner's commit
        publish(accept_dir, fill)

    return apply


def accepted_ids(spark, index_dir: str) -> DataFrame:
    """The gate's accepted set as a (doc_id) frame — the batch read
    consumers join against (never a driver collect).

    The frame is ``localCheckpoint``ed before it is returned, so it
    stays valid even if a LATER drain's tiered compaction folds and
    removes the unit directories the scan referenced (a lazy scan
    would turn into FileNotFound at action time once a fold runs).
    The accepted set is one id column, so the eager materialization
    is cheap at any corpus size the driver sees."""
    committed = _committed(index_dir)
    if not committed:
        raise FileNotFoundError(
            f"near-dup gate index has no committed batches: {index_dir}"
        )
    return (
        spark.read.parquet(*[os.path.join(p, "docs") for p in committed])
        .select("doc_id")
        .distinct()
        .localCheckpoint()
    )
