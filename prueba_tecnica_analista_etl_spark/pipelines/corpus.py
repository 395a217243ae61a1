"""Corpus curation pipeline — the end-to-end shape of a training-data
prep job, composing the engine's extension operators into one lazy DAG:

    documents
      → quality gate   (minimum token count, native)
      → exact dedup    (content-keyed keep-first, one shuffle)
      → near-dup purge (banded-minhash candidate pairs, greedy
                        min-doc_id survivor per pair)

Survivor rule: every near-dup pair is emitted as (doc_a < doc_b) and
the purge computes the greedy min-id maximal independent set by
fixpoint iteration — a doc is dropped only while some SURVIVING
smaller near-dup of it exists. One-shot "drop every doc_b" would
over-purge chains (A~B, B~C, A≁C kills C even though its only
near-dup B is itself dead); the iteration re-admits such docs. It is
the cheap, deterministic alternative to full connected components
(one survivor per transitive family).

Each stage is one shuffle; nothing collects to the driver except the
audit counts, which are plain ``count()`` actions on the stage frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import corpus_artifact

from prueba_tecnica_analista_etl_spark.functions.text import n_tokens
from prueba_tecnica_analista_etl_spark.operators.dedupe import keep_first


def quality_gate(docs: DataFrame, min_tokens: int = 4) -> DataFrame:
    """Heuristic quality filter on length: keep docs of at least
    ``min_tokens`` space-separated tokens, with the count as ``n_tokens``."""
    return docs.withColumn("n_tokens", n_tokens(F.col("text"))).filter(
        F.col("n_tokens") >= min_tokens
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Content-keyed keep-first: survivor = min doc_id per identical
    text (md5 the key at scale to shrink shuffle width)."""
    return keep_first(docs, ["text"], [F.asc("doc_id")])


def _materialize(df: DataFrame) -> DataFrame:
    """EAGER ``localCheckpoint`` — the deliberate, measured choice.

    Measured at sf0.1, every lazy variant loses badly: (a) with AQE
    on, ``toRdd`` inside ``localCheckpoint`` materializes every
    shuffle stage anyway (construction still runs jobs) and the split
    execution took 26-70 s; (b) with AQE + auto-broadcast disabled
    during planning, construction is truly job-free but the first
    action then recomputes the SHARED minhash candidate DAG once per
    consuming branch — Spark reuses persisted blocks across jobs, not
    within one job's concurrently-computed branches — and
    q_corpus_curate ran 10-31 s. The eager materialize-once pipeline
    runs ~1.4 s. Staging the candidate-pair artifact eagerly (like IVF
    quantizer training) is the design; repeat constructions are cheap
    via the evictable pair cache (:func:`cached_minhash_pairs`)."""
    return df.localCheckpoint()


# Endpoint frames are broadcast only while provably small. Every
# broadcast side in _restricted_pairs is ≤ 2·|pairs| rows — tiny for
# a healthy corpus, but a pathologically duplicate-heavy one (mirrored
# crawl snapshots) can make |pairs| itself executor-memory-sized, and
# a forced broadcast of that is a driver OOM, not a slow plan. Above
# this row bound the hint is dropped and the same semi-joins run as
# ordinary shuffle joins (AQE free to re-pick) — output identical
# either way, proven by forcing the bound to 0 in
# tests/test_scale_extensions.py.
ENDPOINT_BROADCAST_MAX_ROWS = 4_000_000


def _maybe_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    return (
        F.broadcast(df) if n_rows <= ENDPOINT_BROADCAST_MAX_ROWS else df
    )


def _restricted_pairs(
    docs: DataFrame, pairs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Restrict ``pairs`` to those whose BOTH endpoints exist in
    ``docs`` and return ``(pairs, base)``, both materialized and
    lineage-truncated. ``base`` is the corpus-present endpoint set of
    the RAW pairs — a superset of the restricted pairs' endpoints
    that is interchangeable with the exact set for every consumer
    (see the return-site comment), saving one materialization.

    The pair generator may run over a wider frame (raw corpus before
    quality gating / exact dedup), and an endpoint absent from
    ``docs`` must impose no constraint — treating it as a surviving
    competitor would purge its partner because of a doc that is not
    even in the corpus.

    Lineage is truncated with eager ``localCheckpoint`` — persist
    alone is NOT enough: the cached data is reused, but Catalyst
    re-optimizes the FULL logical plan (with the giant candidate-pair
    expression tree in every round's lineage) on every action, and
    plan-compile time alone grew 1.7 → 3.1 s per round at sf0.1;
    checkpointed, a round is ~0.4 s (see :func:`_materialize` for the
    measured lazy variants). The checkpointed frames are ≤ 2·|pairs|
    rows. Trade: localCheckpoint is non-replayable on executor loss —
    at cluster scale swap for ``checkpoint()`` with a reliable
    checkpoint dir.
    """
    doc_ids = docs.select("doc_id")
    pairs0 = _materialize(pairs.select("doc_a", "doc_b"))
    # |pairs| gates the broadcast decision; counting the checkpointed
    # frame is a blocks scan, not a recompute
    endpoint_bound = 2 * pairs0.count()
    raw_endpoints = _maybe_broadcast(
        pairs0.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs0.select(F.col("doc_b").alias("doc_id")))
        .distinct(),
        endpoint_bound,
    )
    # ids of pair endpoints actually present in the corpus (≤ 2·|pairs|
    # — the small side of one semi-join over docs)
    present = _materialize(
        doc_ids.join(raw_endpoints, "doc_id", "left_semi")
    )
    restricted = _materialize(
        pairs0.join(
            _maybe_broadcast(
                present.select(F.col("doc_id").alias("doc_a")),
                endpoint_bound,
            ),
            "doc_a",
            "left_semi",
        ).join(
            _maybe_broadcast(
                present.select(F.col("doc_id").alias("doc_b")),
                endpoint_bound,
            ),
            "doc_b",
            "left_semi",
        )
    )
    # The iteration base is ``present``: it is a SUPERSET of the
    # restricted pairs' endpoints, and the extra ids sit in no
    # restricted pair, so they ride every purge round untouched and
    # cancel out of the dropped set (dropped = base − alive touches
    # only ids that lose a round). Re-deriving the exact endpoint set
    # (union + distinct + localCheckpoint of the pair frame) bought
    # nothing — one fewer materialization barrier per invocation.
    return restricted, present


def _losers(pairs: DataFrame, alive: DataFrame) -> DataFrame:
    """doc_b ids whose doc_a currently survives."""
    return (
        pairs.join(
            alive.select(F.col("doc_id").alias("doc_a")),
            "doc_a",
            "left_semi",
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def _enforce_no_live_pair(
    pairs: DataFrame, alive: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Greedy-drop ``doc_b`` of any still-both-alive pair; returns
    ``(alive, enforcement_dropped)``. A no-op (empty second frame)
    when the iteration already converged."""
    both_live = pairs.join(
        alive.select(F.col("doc_id").alias("doc_a")),
        "doc_a",
        "left_semi",
    ).join(
        alive.select(F.col("doc_id").alias("doc_b")),
        "doc_b",
        "left_semi",
    )
    forced = both_live.select(F.col("doc_b").alias("doc_id")).distinct()
    return alive.join(forced, "doc_id", "left_anti"), forced


# Fixed round count of near_dup_purge, which the q_corpus_curate
# oracle unrolls term for term; round cap of near_dup_purge_stable.
PURGE_ROUNDS = 3
STABLE_MAX_ROUNDS = 64


def near_dup_purge(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Greedy min-id survivor purge, iterated toward fixpoint: drop
    ``doc_b`` only while its ``doc_a`` still survives. ``pairs`` must
    carry (doc_a < doc_b) columns.

    The iteration runs over pair ENDPOINTS only, never the corpus: a
    doc in no pair always survives, so the survivor recursion
    (S = ids − {b : ∃(a,b) ∈ pairs, a ∈ S}) touches ≤ 2·|pairs| ids —
    tiny next to ``docs`` at any scale — and ``docs`` itself is
    scanned only for the endpoint restriction and the final
    anti-join. A chain A~B, B~C with A≁C converges to {A, C} in two
    rounds instead of over-purging C.

    This form runs a FIXED round count (no per-round driver checks):
    convergence needs rounds ≥ the longest alternating chain, so
    after the cap a final enforcement pass greedy-drops ``doc_b`` of
    any still-both-alive pair — the no-surviving-near-dup-pair
    invariant holds unconditionally; only chains deeper than
    ``PURGE_ROUNDS`` can still lose a non-duplicate doc. Callers that can
    afford per-round count actions should use
    :func:`near_dup_purge_stable`, which iterates until the alive set
    is provably stable (zero over-purge) and reports audit counts the
    fixed-round form cannot observe.
    """
    pairs, endpoints = _restricted_pairs(docs, pairs)
    alive = endpoints
    for _ in range(PURGE_ROUNDS):
        alive = _materialize(
            endpoints.join(_losers(pairs, alive), "doc_id", "left_anti")
        )
    alive, _forced = _enforce_no_live_pair(pairs, alive)
    dropped = endpoints.join(alive, "doc_id", "left_anti")
    return docs.join(dropped, "doc_id", "left_anti")


def near_dup_purge_stable(
    docs: DataFrame, pairs: DataFrame
) -> tuple[DataFrame, dict[str, int]]:
    """Eager fixpoint variant of :func:`near_dup_purge`: iterate until
    the alive set is STABLE, so no chain depth can trigger the
    enforcement pass's over-purge. Returns ``(survivors, audit)`` with
    ``audit = {"purge_rounds": n, "enforcement_over_purged": m}`` —
    ``m`` is 0 whenever the loop converged before ``STABLE_MAX_ROUNDS``
    (the enforcement pass still runs as a safety net, and its drop
    count is surfaced so over-purging is observable, never silent).

    Stability is checked on the tiny endpoint frame (≤ 2·|pairs|
    rows): alive sets are subsets of ``endpoints``, so
    A == B ⇔ |A| == |B| == |A ∪ B| — three cheap counts per round,
    no exceptAll. Each round settles every doc whose alternating-chain
    depth equals the round number, so the loop terminates in at most
    (longest chain) rounds.
    """
    pairs, endpoints = _restricted_pairs(docs, pairs)
    alive = endpoints
    n_alive = alive.count()
    rounds_run = 0
    for _ in range(STABLE_MAX_ROUNDS):
        nxt = _materialize(
            endpoints.join(_losers(pairs, alive), "doc_id", "left_anti")
        )
        rounds_run += 1
        n_nxt = nxt.count()
        stable = (
            n_nxt == n_alive
            and alive.unionByName(nxt).distinct().count() == n_nxt
        )
        alive, n_alive = nxt, n_nxt
        if stable:
            break
    alive, forced = _enforce_no_live_pair(pairs, alive)
    over_purged = forced.count()
    dropped = endpoints.join(alive, "doc_id", "left_anti")
    audit = {
        "purge_rounds": rounds_run,
        "enforcement_over_purged": over_purged,
    }
    return docs.join(dropped, "doc_id", "left_anti"), audit


# The candidate-pair frame is a per-corpus artifact like the IVF
# quantizer (extensions_scale.ivf_centroids) and the unigram score
# frame (extensions_pipeline._unigram_scored): real pipelines compute
# these once and reuse them across runs AND processes. The generalized
# store lives in artifacts.corpus_artifact (weakref'd sessions,
# disk-persisted frames keyed by a fresh corpus fingerprint); these
# wrappers keep the original API.


def _minhash_pairs_key() -> str:
    """Artifact key for the staged minhash pair frame — embeds the
    full operating point (bands × rows, Jaccard threshold, bucket
    cap) so a retune of ANY knob produces a fresh frame instead of
    serving the stale cached one."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_scale import (
        BUCKET_CAP,
        MINHASH_BANDS,
        MINHASH_JACCARD_T,
        MINHASH_ROWS,
    )

    # DERIVED from the constants (never hand-written) — 0.5 -> "t05",
    # matching the existing on-disk key.
    t = str(MINHASH_JACCARD_T).replace(".", "")
    return (
        f"minhash_pairs:{MINHASH_BANDS}x{MINHASH_ROWS}"
        f":t{t}:c{BUCKET_CAP}"
    )


def cached_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.plans.extensions_scale import (
        minhash_pairs,
    )

    return corpus_artifact(
        spark,
        sf_dir,
        _minhash_pairs_key(),
        lambda: minhash_pairs(spark, sf_dir),
    )


def curate_corpus(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict[str, int]]:
    """Full curation chain over the ``documents`` table; returns the
    surviving corpus and per-stage audit counts.

    The near-dup purge is the STABLE maximal-independent-set form
    (:func:`near_dup_purge_stable`, eager fixpoint): curate_corpus
    computes audit counts anyway, so the per-round actions cost
    nothing extra, and the audit makes any enforcement over-purge
    observable (``enforcement_over_purged`` is 0 on convergence)."""
    from prueba_tecnica_analista_etl_spark.plans.queries import _t

    docs = _t(spark, sf_dir, "documents")
    gated = quality_gate(docs)
    # NOT checkpointed, by measurement: the audit counts do re-run the
    # gate expressions and the dedup window per consumer, but
    # _materialize(deduped) was tried and is SLOWER here (1.5-1.8 s →
    # 2.0-3.0 s isolated at sf0.1) — the checkpoint write/read costs
    # more than recomputing a cheap map+window over this corpus. At a
    # scale where the gate/dedup lineage is expensive, checkpoint the
    # frontier; the pair frame's _materialize shows the pattern.
    deduped = exact_dedup(gated)
    # The UNCAPPED pair frame: the reporting query's top-100 limit
    # must never bound what curation purges.
    pairs = cached_minhash_pairs(spark, sf_dir)
    survivors, purge_audit = near_dup_purge_stable(deduped, pairs)
    stats = {
        "input_docs": docs.count(),
        "after_quality": gated.count(),
        "after_exact_dedup": deduped.count(),
        "after_near_dup": survivors.count(),
        **purge_audit,
    }
    return survivors, stats
