"""Distributed connected components over a pair/edge frame.

The near-dup family (minhash/simhash/embedding LSH) emits candidate
PAIRS, but curation needs CLUSTERS: a chain A~B, B~C is one duplicate
family even when A≁C directly, and the canonical-survivor choice must
be made per component, not per pair. ``pipelines/corpus.py`` documents
the greedy pairwise alternative and points to connected components for
transitive-closure cliques; this module provides that natively —
DataFrame ops only, no GraphFrames dependency.

Algorithm: iterative min-label propagation (the "hash-to-min" scheme of
Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
2014 — public literature). Every node starts labeled with its own id;
each round a node adopts the minimum label among itself and its
neighbors. After d rounds (d = component diameter) every node carries
its component's minimum id. Near-dup graphs are pathological-free in
practice: components are small duplicate families (diameter ≤ a few
hops), so the round count stays tiny; for graphs that prove deeper,
the loop ADAPTIVELY adds pointer jumping (path doubling: comp ←
comp[comp], the shortcutting step the large-star/small-star family of
the same paper is built from) after ``jump_after`` non-converged
rounds, turning the residual convergence into O(log d) rounds instead
of O(d) — shallow graphs never pay the extra join.

Scale shape: each round is one join keyed on the edge endpoint plus one
groupBy on node id — O(|E|) messages, never O(n²) — and all frames are
ENDPOINT-sized (nodes that appear in no edge never enter the
computation; callers union them back as singletons if needed). Rounds
are lineage-truncated with eager ``localCheckpoint`` exactly like the
corpus purge fixpoint (see pipelines/corpus.py:_materialize for the
measured lazy alternatives); at cluster scale swap for ``checkpoint()``
with a reliable checkpoint dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Round cap (the run raises past it) and the round pointer jumping
# starts from.
MAX_ROUNDS = 50
JUMP_AFTER = 4


def connected_components(
    edges: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with its
    component id = the MINIMUM node id in its component (deterministic,
    engine-portable — the same labeling a SQL recursive transitive
    closure produces).

    Returns ``(node, comp)`` for every node appearing in ``edges``.
    Runs Spark jobs eagerly (one convergence count per round, like
    ``near_dup_purge_stable``); raises rather than returning a
    partially-propagated labeling if ``MAX_ROUNDS`` is hit — silent
    truncation would mislabel long chains. From round ``JUMP_AFTER``
    on, each round also pointer-jumps (comp ← comp[comp]), so a depth
    the default caps could never cover by propagation alone (a
    40-node chain needs 39 plain rounds) converges in O(log d).
    """
    # Materialize the edge list once: callers hand in heavy DAGs
    # (shingle explode + bucket pair expansion) and every round below
    # re-reads the edges — without truncation each round would re-run
    # the whole candidate-pair pipeline.
    e = edges.select(
        F.col(a).alias("src"), F.col(b).alias("dst")
    ).localCheckpoint()
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # Seed with the FIRST propagation folded into node discovery:
    # comp₀ = min(self, direct neighbors) comes out of the same
    # groupBy that enumerates the nodes — one round fewer for free.
    labels = (
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.min("src"), F.min("dst")).alias("comp"))
        .localCheckpoint()
    )

    # Convergence detection. Labels are pointwise non-increasing
    # (each update takes a min that includes the current label), so
    # for NUMERIC ids Σcomp strictly decreases until the fixpoint and
    # is then constant: ONE cheap aggregate on the just-materialized
    # frame detects convergence — no old-vs-new join. decimal(38,0)
    # keeps the total exact for arbitrary 64-bit ids at any node
    # count. For non-numeric ids (md5 fingerprints etc.) the decimal
    # cast would be NULL (silently "converged" after one round — a
    # mislabeling bug), so those fall back to an old-vs-new
    # inequality probe over the two materialized frames.
    numeric = isinstance(
        labels.schema["comp"].dataType, T.NumericType
    )

    def total(lbl: DataFrame):
        return lbl.agg(
            F.sum(F.col("comp").cast("decimal(38,0)"))
        ).first()[0]

    def differs(new: DataFrame, old: DataFrame) -> bool:
        return (
            new.join(
                old.select("node", F.col("comp").alias("_old")), "node"
            )
            .filter(F.col("comp") != F.col("_old"))
            .limit(1)
            .count()
            > 0
        )

    prev = total(labels) if numeric else None
    for rnd in range(MAX_ROUNDS):
        neighbor = sym.join(
            labels, sym["dst"] == labels["node"]
        ).select(F.col("src").alias("node"), "comp")
        upd = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        if rnd >= JUMP_AFTER:
            # Pointer jumping: every comp value IS a node id (labels
            # start as node ids and only ever move between nodes), so
            # shortcut comp ← comp[comp] through the label table
            # itself — each jump round doubles the resolved depth.
            # comp[comp] ≤ comp pointwise, so the monotone-sum
            # convergence argument is untouched. Materialize the
            # propagation aggregate FIRST: self-joining the lazy
            # frame would execute the union+groupBy once per join
            # side (only the exchange is reused across aliases).
            upd = upd.localCheckpoint()
            m = upd.select(
                F.col("node").alias("_n"), F.col("comp").alias("_c")
            )
            upd = upd.join(m, upd["comp"] == m["_n"]).select(
                "node", F.col("_c").alias("comp")
            )
        upd = upd.localCheckpoint()
        if numeric:
            cur = total(upd)
            changed = cur != prev
            prev = cur
        else:
            changed = differs(upd, labels)
        labels = upd
        if not changed:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ROUNDS} rounds "
        "(component depth exceeds the cap even with pointer jumping "
        f"from round {JUMP_AFTER}); raise MAX_ROUNDS"
    )
