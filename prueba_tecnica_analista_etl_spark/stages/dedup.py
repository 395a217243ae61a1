"""Dedup stages: shingle features, the near-duplicate pair frames
(banded MinHash, single-band n-gram, banded SimHash), the
8-token-shingle duplicate families, and the curation steps that purge
from them.

Every near-dup tier replaces an O(n²) all-pairs comparison with a
bucketing scheme whose cost is one shuffle on the bucket key plus
per-bucket work. Every hash in these paths is engine-neutral by
construction (``md5_60`` 60-bit prefixes, the Mersenne-prime seeded
minhash family over them, integer sign bits), so candidate sets, skew
chunks and re-rank scores are bit-identical to the SQL oracles.

Purge survivor rule: every near-dup pair is emitted as
(doc_a < doc_b) and the purge computes the greedy min-id maximal
independent set by fixpoint iteration — a doc is dropped only while
some SURVIVING smaller near-dup of it exists. One-shot "drop every
doc_b" would over-purge chains (A~B, B~C, A≁C kills C even though its
only near-dup B is itself dead); the iteration re-admits such docs.
It is the cheap, deterministic alternative to full connected
components (one survivor per transitive family).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import corpus_artifact
from prueba_tecnica_analista_etl_spark.functions.text import (
    jaccard,
    md5_60,
    n_tokens,
    shingle_hashes,
    shingles,
    simhash64,
    tokens,
)
from prueba_tecnica_analista_etl_spark.operators.components import (
    connected_components,
)
from prueba_tecnica_analista_etl_spark.operators.dedupe import keep_first
from prueba_tecnica_analista_etl_spark.sources.tables import _t, spread


# Banded-minhash knobs: b bands × r rows. A pair with shingle-set
# Jaccard s collides in a band with prob s^r; recall = 1-(1-s^r)^b.
# r=3, b=4 → s=0.9: 99.9%; s=0.1: 0.4% of random pairs become
# candidates — the AND-amplification that keeps the self-join linear.
MINHASH_BANDS = 4
MINHASH_ROWS = 3
# Jaccard gate on re-ranked candidates: THE constant behind every
# "jaccard >= 0.5" in the minhash family (function defaults, the
# generated oracle, the staged pair-frame key) — a retune here moves
# all of them together instead of silently serving a stale frame.
MINHASH_JACCARD_T = 0.5
BUCKET_CAP = 64  # skew guard: per-bucket pair work is bounded by
# SUB-SPLITTING oversized buckets (see capped_pair_array), never by
# silently dropping them.

# ENGINE-NEUTRAL seeded minhash family (what makes q_minhash_dedup
# oracle-backed): mh_j(h) = (a_j·x + b_j·y + c_j)
# mod (2^61−1) where x = h & (2^30−1), y = h >> 30 split the 60-bit
# md5 prefix hash. Coefficients < 2^30 keep every intermediate under
# 2^62 — exact int64 arithmetic in Spark, DuckDB, and any ANSI engine
# (no xxhash64 dependence), and a standard Mersenne-prime
# multiply-shift universal family, so minima stay uniform. Seeded
# deterministically: the literals are embedded in both the Spark plan
# and the generated oracle SQL.
MINHASH_P = (1 << 61) - 1
_LOW30 = (1 << 30) - 1
MINHASH_SEED = 1105
# Seed of the skew guard's secondary chunk order for single-band
# callers; the n-gram oracle replays the same chunks from it.
CHUNK_SEED = 7


_rng = random.Random(MINHASH_SEED)
MINHASH_COEFFS = [
    tuple(_rng.randrange(1, 1 << 30) for _ in range(3))
    for _ in range(MINHASH_BANDS * MINHASH_ROWS)
]


def capped_pair_array(
    docs_col,
    id_field: str,
    payload_field: str,
    a_name: str,
    b_name: str,
    cap: int | None = BUCKET_CAP,
    seed_col=None,
):
    """Ordered candidate pairs (``a < b``) from one LSH bucket's
    member array ``array<struct<{id_field}, {payload_field}>>``, with
    the skew guard that makes degenerate buckets safe at 100 TB:

    a bucket larger than ``cap`` is SUB-SPLIT, not dropped — members
    are ordered by a secondary ``md5_60`` of their seeded id and chunked
    into ``ceil(n/cap)`` groups of ≤ cap, and pairs expand within each
    chunk only. Per-bucket work is O(n·cap) instead of O(n²), and a
    popular bucket still yields its intra-chunk pairs instead of
    silently vanishing (refusing whole buckets would let near-dups
    survive curation with no signal). Cross-chunk pairs
    are the residual loss; under multi-band LSH any such pair can
    still be found by another band it shares — PROVIDED chunk
    boundaries differ per band, which is why banded callers must pass
    ``seed_col`` (the band id): a near-identical-text family lands in
    the same bucket in EVERY band, so a band-independent secondary
    hash would chunk all bands identically and lose the same
    cross-chunk pairs everywhere. Single-band callers (n-gram) keep
    the constant ``CHUNK_SEED``; their cross-chunk loss is the documented
    trade. Output
    fields: ``{a_name}, {b_name}, pa, pb`` (payloads of each side).
    All expression-level (no extra shuffle, no UDF). Buckets at or
    under the cap — the overwhelmingly common case — take a direct
    n×n expansion with no secondary-hash sort or chunking."""

    def expand(members):
        return F.filter(
            F.flatten(
                F.transform(
                    members,
                    lambda a: F.transform(
                        members,
                        lambda b: F.struct(
                            a["_id"].alias(a_name),
                            b["_id"].alias(b_name),
                            a["_p"].alias("pa"),
                            b["_p"].alias("pb"),
                        ),
                    ),
                )
            ),
            lambda p: p[a_name] < p[b_name],
        )

    plain = F.transform(
        docs_col,
        lambda m: F.struct(
            m[id_field].alias("_id"), m[payload_field].alias("_p")
        ),
    )
    # cap=None: UNCAPPED all-pairs expansion — for consumers whose
    # contract is exhaustive within the bucket (the streaming near-dup
    # gate: admitting a doc because its match sat in another chunk
    # would be a quality bug, and its per-unit work is bounded by the
    # micro-batch, not the bucket).
    if cap is None:
        return expand(plain)
    chunk_seed = F.lit(CHUNK_SEED) if seed_col is None else seed_col
    # Secondary chunk-order hash: md5_60 of "<seed>:<id>" — engine-
    # neutral (not xxhash64), so an oracle reproduces the exact
    # chunk boundaries with row_number() over the same hash. Ids are
    # unique within a bucket, so (hash, id) totally orders it.
    ordered = F.transform(
        F.array_sort(
            F.transform(
                docs_col,
                lambda m: F.struct(
                    md5_60(
                        F.concat_ws(
                            ":",
                            chunk_seed.cast("string"),
                            m[id_field].cast("string"),
                        )
                    ).alias("_h"),
                    m[id_field].alias("_id"),
                    m[payload_field].alias("_p"),
                ),
            )
        ),
        lambda m: F.struct(m["_id"].alias("_id"), m["_p"].alias("_p")),
    )
    n_chunks_minus1 = F.floor(
        (F.size(docs_col) - F.lit(1)) / F.lit(cap)
    ).cast("int")
    chunked = F.flatten(
        F.transform(
            F.transform(
                F.sequence(F.lit(0), n_chunks_minus1),
                lambda c: F.slice(
                    ordered, c * F.lit(cap) + F.lit(1), F.lit(cap)
                ),
            ),
            expand,
        )
    )
    return F.when(F.size(docs_col) <= F.lit(cap), expand(plain)).otherwise(
        chunked
    )


def shingle_frame(docs: DataFrame) -> DataFrame:
    """Per-doc 3-token shingle features of a (doc_id, text) frame:
    ``(doc_id, sh, hs)`` with ``sh`` the distinct shingle strings and
    ``hs`` their sorted md5_60 hashes — the one input of the near-dup
    pair and band frames below."""
    return spread(docs).select(
        "doc_id",
        F.array_distinct(shingles(tokens(F.col("text")), 3)).alias("sh"),
        shingle_hashes(tokens(F.col("text")), 3).alias("hs"),
    )


def doc_shingle_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`shingle_frame` over the ``documents`` corpus, staged ONCE
    per corpus. The whole near-dup family (minhash, single-band
    n-gram, simhash, the LSH-recall truth side) consumes this one
    artifact instead of each re-running scan→tokenize→shingle→md5 —
    the feature stage is built once per corpus and served from the
    artifact store (corpus_artifact), exactly the
    ``_unigram_scored`` discipline. At 100 TB this is the standard
    move: materialize the per-doc feature frame as a first-class
    dataset and fan the near-dup tiers out from it."""
    return corpus_artifact(
        spark,
        sf_dir,
        "doc_shingles_k3",
        lambda: shingle_frame(_t(spark, sf_dir, "documents")),
    )


def minhash_band_frame(shingled: DataFrame) -> DataFrame:
    """Per-doc banded minhash signature frame of a
    :func:`shingle_frame` — ``(doc_id, hs, band, key)`` with one row
    per (doc, band), ``hs`` the sorted distinct
    md5_60 shingle hashes and ``key`` the band's struct of row minima
    (engine-neutral end-to-end; see MINHASH_P). The shared candidate
    source for :func:`minhash_pair_frame` (all-pairs batch) and the
    streaming near-dup gate (probe vs accepted index): both join on
    the plain (band, key) columns."""
    n_hashes = MINHASH_BANDS * MINHASH_ROWS
    d = shingled.select("doc_id", "hs")

    def _seeded_min(j: int):
        a, b, c = MINHASH_COEFFS[j]
        return F.array_min(
            F.transform(
                "hs",
                lambda h: (
                    F.lit(a) * h.bitwiseAND(F.lit(_LOW30))
                    + F.lit(b) * F.shiftrightunsigned(h, 30)
                    + F.lit(c)
                )
                % F.lit(MINHASH_P),
            )
        ).alias(f"mh{j}")

    sig = d.select("doc_id", "hs", *[_seeded_min(j) for j in range(n_hashes)])
    return sig.select(
        "doc_id",
        "hs",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.struct(
                            *[
                                F.col(f"mh{b * MINHASH_ROWS + r}").alias(
                                    f"k{r}"
                                )
                                for r in range(MINHASH_ROWS)
                            ]
                        ).alias("key"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "hs", "bk.band", "bk.key")


def minhash_pair_frame(shingled: DataFrame) -> DataFrame:
    """Banded-minhash near-dup pair detection over a
    :func:`shingle_frame` — the operator behind the ``documents``-table queries
    (``minhash_pairs`` below is this over the harness table). Emits
    every ordered pair (doc_a < doc_b) with exact Jaccard ≥
    ``MINHASH_JACCARD_T`` over 3-token shingles, candidate-generated
    by ``MINHASH_BANDS``×``MINHASH_ROWS`` banded LSH (recall at
    similarity s ≈ 1-(1-s^rows)^bands). Output columns are
    (doc_a, doc_b, jaccard_sim).

    Shingle once, hash once: every downstream step (minhashes, band
    keys, exact re-rank) works on the array<long> of shingle hashes,
    so the expensive string shingling is built exactly once and the
    whole query is ONE shuffle (the band-key groupBy). Jaccard over
    hashed shingles equals Jaccard over shingles up to md5_60
    collisions (P ≈ |sh|²·2⁻⁶⁰ per doc — negligible). The seeded
    family lives in :func:`minhash_band_frame` — NB its historical
    trap: a two-parameter transform lambda would silently rebind the
    seed to the array index (PySpark passes (element, index)),
    collapsing all hash functions into one; the coefficients bind via
    an outer closure. Band key = the row minima THEMSELVES as a
    struct (not a combiner hash): equality of the struct == equality
    of all ``rows`` minima, and a SQL oracle joins on the plain
    columns — no cross-engine combiner function needed."""
    return pairs_from_band_frame(minhash_band_frame(shingled))


def pairs_from_band_frame(
    banded: DataFrame,
    threshold: float = MINHASH_JACCARD_T,
    cap: int | None = BUCKET_CAP,
) -> DataFrame:
    """The second half of :func:`minhash_pair_frame`: scored near-dup
    pairs from an already-built banded signature frame ``(doc_id, hs,
    band, key)``. Split out so consumers that ALREADY hold the banded
    frame (the streaming gate localCheckpoints it for its index
    probe) derive intra-frame pairs without re-running the
    shingle/minhash pipeline. ``cap=None`` disables the skew
    chunking (exhaustive within each bucket — the gate's contract)."""
    small = (
        banded.groupBy("band", "key")
        .agg(F.collect_list(F.struct("doc_id", "hs")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    return (
        small.select(
            F.explode(
                capped_pair_array(
                    F.col("docs"),
                    "doc_id",
                    "hs",
                    "doc_a",
                    "doc_b",
                    cap=cap,
                    seed_col=F.col("band"),
                )
            ).alias("p")
        )
        .select(
            "p.doc_a",
            "p.doc_b",
            jaccard(F.col("p.pa"), F.col("p.pb")).alias("_j"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        # gate on the UNROUNDED similarity: rounding first would admit
        # pairs with true jaccard in [threshold-5e-5, threshold)
        # through the >= threshold contract; round only the reported
        # column
        .filter(F.col("_j") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("_j"), 4).alias("jaccard_sim"),
        )
    )


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL near-dup pairs (jaccard ≥ 0.5) from banded minhash — the
    UNCAPPED frame consumers like corpus curation must use, i.e.
    :func:`minhash_pair_frame` at the harness defaults over the
    ``documents`` table. The registry query ``q_minhash_dedup`` is
    this plus an order/limit for reporting; feeding the limited
    top-100 into a purge would let pairs 101+ silently survive
    curation at scale."""
    return minhash_pair_frame(doc_shingle_frame(spark, sf_dir))


def ngram_pair_frame(shingled: DataFrame) -> DataFrame:
    """Single-band min-shingle candidate pairs with exact trigram
    Jaccard over a :func:`shingle_frame` (the operator behind
    ``q_ngram_jaccard``). One bucket per minimum shingle hash —
    cheaper and lower-recall than full banded minhash
    (:func:`minhash_pair_frame`); right for the
    catch-obvious-rewrites tier. Output: (doc_a, doc_b,
    jaccard_sim), uncapped."""
    # hs is the sorted distinct md5_60 of exactly these shingles, so
    # array_min(hs) == array_min(transform(sh, md5_60)) — the oracle's
    # bucket keys — and the exact-Jaccard re-rank still runs on the
    # shingle STRINGS (the oracle counts strings, not hashes).
    d = shingled.select("doc_id", "sh", F.array_min("hs").alias("minhash"))
    # Capped-bucket expansion (same machinery as minhash/simhash):
    # collect each min-shingle bucket; oversized buckets sub-split by
    # secondary hash (capped_pair_array). Join input stays O(n),
    # per-bucket pair work bounded at n·cap.
    small = (
        d.groupBy("minhash")
        .agg(F.collect_list(F.struct("doc_id", "sh")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    return (
        small.select(
            F.explode(
                capped_pair_array(
                    F.col("docs"), "doc_id", "sh", "doc_a", "doc_b"
                )
            ).alias("p")
        )
        .select(
            "p.doc_a",
            "p.doc_b",
            F.round(jaccard(F.col("p.pa"), F.col("p.pb")), 4).alias(
                "jaccard_sim"
            ),
        )
    )


N_SIMHASH_BITS = 64
N_BANDS = 4
BAND_BITS = N_SIMHASH_BITS // N_BANDS
# Candidate gate: banded collisions are kept only at hamming distance
# ≤ this. Part of the staged pair frame's operating point, so it is
# embedded in the simhash_pairs artifact key (a retune must produce a
# fresh frame, not serve the stale cached one).
SIMHASH_MAX_HAMMING = 8


def simhash_pair_frame(shingled: DataFrame) -> DataFrame:
    """Banded-SimHash near-dup pairs over a :func:`shingle_frame` (the
    operator behind ``q_simhash_dedup``): 64-bit majority signature
    over 3-shingle features, 4×16-bit bands, candidates kept at
    hamming distance ≤ ``SIMHASH_MAX_HAMMING``. Output:
    (doc_a, doc_b, hamming), uncapped."""
    # hs is the distinct md5_60 set of exactly these shingles, and the
    # bit census is order- and duplicate-set-insensitive, so
    # simhash64(hs) == simhash64(transform(distinct(sh), md5_60)).
    sigs = shingled.select("doc_id", simhash64(F.col("hs")).alias("sig"))
    # The signature is one long, so it rides along into the buckets —
    # no join-back (and no recomputation of the UDF stage) needed.
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("sig", b * BAND_BITS)
                        .bitwiseAND(F.lit((1 << BAND_BITS) - 1))
                        .alias("key"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sig", "bk.band", "bk.key")
    small = (
        bands.groupBy("band", "key")
        .agg(F.collect_list(F.struct("doc_id", "sig")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    return (
        small.select(
            F.explode(
                capped_pair_array(
                    F.col("docs"),
                    "doc_id",
                    "sig",
                    "doc_a",
                    "doc_b",
                    seed_col=F.col("band"),
                )
            ).alias("p")
        )
        .select(
            "p.doc_a",
            "p.doc_b",
            F.bit_count(
                F.col("p.pa").bitwiseXOR(F.col("p.pb"))
            ).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


def pair_combos(arr, a_name: str, b_name: str):
    """All ``a < b`` pair structs from a SORTED array column: k members
    → k(k-1)/2 structs, pure codegen, ordering guaranteed by the
    sorted input (the inline alternative to a self-equi-join, whose
    aliased sides would each re-evaluate the heavy upstream subtree —
    exchange reuse does not fire across them). Shared by
    q_source_overlap (source pairs per fingerprint) and shingle_edges
    (doc pairs per fingerprint)."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias(a_name), y.alias(b_name)),
            ),
        )
    )


# Duplicate-cluster edges: two docs are near-dups when they share at
# least this many distinct 8-token shingle fingerprints (the
# q_source_overlap unit, applied doc-level).
CLUSTER_MIN_SHARED = 3


def fp8_ids_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each distinct 8-token-shingle md5 fingerprint's sorted member
    doc_id array over the ``documents`` corpus — staged ONCE per
    corpus (the doc_shingle_frame discipline applied to the
    8-gram family): q_neardup_scores' candidate edges, q_dup_clusters'
    edge builder and q_dup_exposure's exposure census all fold this
    one frame instead of each re-running the corpus-scale
    explode+md5+groupBy subtree. O(distinct shingles) rows — the
    cached_minhash_pairs size class."""
    return corpus_artifact(
        spark,
        sf_dir,
        "fp8_ids",
        lambda: fp8_groups(_t(spark, sf_dir, "documents")),
    )


def fp8_groups(docs: DataFrame) -> DataFrame:
    """(fp, ids): each distinct 8-token-shingle md5 fingerprint of a
    (doc_id, text) frame with its sorted member doc_ids."""
    toks = F.split(F.lower(F.col("text")), " ")
    fp = (
        spread(docs)
        .select("doc_id", F.explode(shingles(toks, 8)).alias("gram"))
        .select("doc_id", F.md5("gram").alias("fp"))
    )
    # No .distinct() before the groupBy: collect_set dedups doc_ids
    # per fingerprint map-side, so a separate distinct would be a
    # second full shuffle of the gram frame for nothing (unlike
    # q_source_overlap, whose per-source SIZE census genuinely needs
    # the deduped (fp, source) frame).
    return fp.groupBy("fp").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ids")
    )


def shingle_edges(
    docs: DataFrame, grouped: DataFrame | None = None
) -> DataFrame:
    """Doc-pair edges ``(doc_a < doc_b, shared)`` where the pair shares
    ≥ ``CLUSTER_MIN_SHARED`` distinct 8-token shingle fingerprints.

    Same inline-pair shape as q_source_overlap (one groupBy(fp)
    collects each fingerprint's sorted member ids; a<b combinations
    are generated from that array in codegen — the heavy
    explode+md5+distinct subtree runs ONCE, not twice per join side).
    Fingerprints are not capped by document frequency, for exactness
    against the uncapped SQL oracle. ``grouped`` bypasses the corpus
    scan with a pre-staged (fp, ids) frame (the ``fp8_ids_frame``
    artifact)."""
    g = fp8_groups(docs) if grouped is None else grouped
    combos = pair_combos(F.col("ids"), "doc_a", "doc_b")
    return (
        g.filter(F.size("ids") >= 2)
        .select(F.explode(combos).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= CLUSTER_MIN_SHARED)
    )


def cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's duplicate-family component labels — a CORPUS
    ARTIFACT (one row per doc in a multi-doc family, checkpointed):
    the connected-components fixpoint is eager (each round runs Spark
    jobs), so every consumer re-deriving it per call would re-pay the
    whole iteration; the cached_minhash_pairs discipline applies —
    built once per corpus generation. The fixpoint cost stays visible
    in tests and first-use (bench warm-up)."""
    return corpus_artifact(
        spark,
        sf_dir,
        "dup_cluster_labels",
        lambda: connected_components(
            shingle_edges(
                _t(spark, sf_dir, "documents"),
                grouped=fp8_ids_frame(spark, sf_dir),
            )
        ),
    )


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
# quantizer (vectors.ivf_centroids) and the unigram score frame
# (text._unigram_scored): real pipelines compute these once and reuse
# them across runs AND processes (artifacts.corpus_artifact).


def _minhash_pairs_key() -> str:
    """Artifact key for the staged minhash pair frame — embeds the
    full operating point (bands × rows, Jaccard threshold, bucket
    cap) so a retune of ANY knob produces a fresh frame instead of
    serving the stale cached one."""
    # DERIVED from the constants (never hand-written) — 0.5 -> "t05",
    # matching the existing on-disk key.
    t = str(MINHASH_JACCARD_T).replace(".", "")
    return (
        f"minhash_pairs:{MINHASH_BANDS}x{MINHASH_ROWS}"
        f":t{t}:c{BUCKET_CAP}"
    )


def cached_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_artifact(
        spark,
        sf_dir,
        _minhash_pairs_key(),
        lambda: minhash_pairs(spark, sf_dir),
    )
