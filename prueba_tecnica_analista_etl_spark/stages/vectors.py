"""Vector stages: exact cosine top-k, the int8 grid, sign-LSH
signatures and candidates, the IVF quantizer and on-disk index, the
embedding near-dup pairs, the ANN recall sweep, and the SemDeDup
cluster-then-purge tier.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import (
    artifact_directory,
    census_artifact,
    corpus_artifact,
)
from prueba_tecnica_analista_etl_spark.functions.vectors import (
    as_double,
    cosine,
    hamming_words,
    ivf_fit,
    random_hyperplanes,
    sign_bits,
    sign_words,
)
from prueba_tecnica_analista_etl_spark.operators.components import (
    connected_components,
)
from prueba_tecnica_analista_etl_spark.operators.ivf_index import (
    _read_data,
    ivf_probe_clusters,
    ivf_write_index,
)
from prueba_tecnica_analista_etl_spark.sources.tables import _t, spread
from prueba_tecnica_analista_etl_spark.stages.dedup import (
    BUCKET_CAP,
    capped_pair_array,
)


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id 0: q_similarity_topk,
    and the exact truth of the ANN recall sweep. A sequential double
    fold matches DuckDB bit for bit."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def embedding_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v) — every embedding as a double array. spread() first:
    a one-file embeddings table arrives as ONE partition, and the
    per-vector work after it would run the whole corpus serially."""
    return spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )


def int8_grid(v: Column) -> Column:
    """Per-vector symmetric int8 quantization of a double array:
    floor(x·127/max|x| + 0.5), exact BIGINT components. One IEEE
    divide for the scale and one multiply + floor per component, so
    every engine lands on the same grid."""
    sc = F.lit(127.0) / F.greatest(
        F.array_max(F.transform(v, F.abs)), F.lit(1e-12)
    )
    return F.transform(v, lambda x: F.floor(x * sc + F.lit(0.5)))


def int8_cos(a: Column, b: Column) -> Column:
    """Quantized cosine: exact int64 dots cast to double, one sqrt and
    one divide per side — the single-IEEE-op determinism class, so
    Spark and the SQL oracle produce bit-identical doubles."""

    def idot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return idot(a, b).cast("double") / (
        F.sqrt(idot(a, a).cast("double"))
        * F.sqrt(idot(b, b).cast("double"))
    )


# The SHIPPED sign-LSH operating point (audited by q_ann_recall's
# sweep alongside its neighbors, so a retune here is automatically
# what gets measured).
#
# Operating point: 16 bits / hamming<=4 measured recall@10 = 0.2 at
# sf0.1 — the corpus's true top-10 sits at cosine 0.27-0.41, where
# 16-bit signatures are near-random relative to the probe (P(bit agree)
# = 1 - angle/pi ~ 0.60). The shipped point is now 128 planes packed as
# 4x32-bit words (sign_words) with radius 55: measured against the exact
# top-10, recall@10 = 1.0 at sf0.1 (13.9% of the corpus as candidates),
# 0.9 at sf0.01 (11.2%), 0.5 at sf0.001 (a 500-vector corpus is too
# sparse for any radius to separate — the sweep table shows it
# honestly). The sweep (q_ann_recall) now also emits n_candidates per
# operating point, so the recall-vs-scan-cost trade is a recorded
# number, not prose.
LSH_BITS = 128
LSH_HAMMING = 55
LSH_WORD_BITS = 32
LSH_WORDS = LSH_BITS // LSH_WORD_BITS


def lsh_sig_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, sig) — every corpus vector with its 128-bit sign-LSH
    signature (4×32-bit words over the seeded ±1 planes), staged once
    per corpus. This IS the at-rest layout the q_ann_lsh docstring
    describes — a vector store keeps the signature column beside the
    vectors so a probe scans signatures, not matmuls — so the per-call
    Arrow projection (one corpus-wide numpy matmul per invocation) moves
    into the once-per-corpus builder, exactly like the
    simhash/embed-neardup signature stages (builder Arrow node pinned by
    test_staged_builders_keep_their_arrow_stages). Operating point (bits
    × word-bits, plane seed) lives in the key; signatures are
    integer-grid exact, so the staged frame is bit-identical to the live
    construction at any partitioning."""
    return corpus_artifact(
        spark,
        sf_dir,
        f"lsh_sigs:{LSH_BITS}x{LSH_WORD_BITS}:s42",
        lambda: _lsh_sig_live(spark, sf_dir),
    )


def _lsh_sig_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live (vec_id, v, sig) construction :func:`lsh_sig_frame`
    stages — named so the builder-Arrow plan pin can see it."""
    planes = random_hyperplanes(LSH_BITS, 64)
    return embedding_frame(spark, sf_dir).withColumn(
        "sig", sign_words(F.col("v"), planes, LSH_WORD_BITS)
    )


def ann_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH candidate frame for the vec_id=0 probe: every corpus
    vector within ``LSH_HAMMING`` of the probe's 128-bit signature
    (4×32-bit words), with its hamming distance and exact cosine. One
    signature matmul + one broadcast probe + one filter. Consumer:
    ``q_ann_lsh`` (the shipped single-tier search). The
    q_ann_recall SWEEP deliberately does NOT reuse this frame — it
    needs the IVF cluster column on the same rows, so it builds one
    combined (cosine, hamming, cluster) scan of its own; both derive
    hamming from the same ``sign_words``/LSH_BITS construction, and
    the sweep audits the shipped LSH_HAMMING radius by constant, so a
    retune here is still what gets measured.

    100 TB shape: the signature column is 16 bytes/vector, so the
    hamming prefilter is a scan of signatures only (a 32× byte cut
    vs the 64-dim double vectors) and the exact cosine re-rank
    touches the surviving ~10-15% — this is the signature-scan tier;
    partition-pruned reads belong to the IVF tier (q_ann_ivf)."""
    sigs = lsh_sig_frame(spark, sf_dir)
    q = sigs.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("sig").alias("qsig")
    )
    return (
        sigs.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn(
            "hamming", hamming_words(F.col("sig"), F.col("qsig"))
        )
        .filter(F.col("hamming") <= LSH_HAMMING)
        .select(
            "vec_id",
            "hamming",
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("cos_sim"),
        )
    )


# The SHIPPED IVF operating point (swept by q_ann_recall).
IVF_K = 16
IVF_ITERS = 2
IVF_NPROBE = 4

# The fitted coarse quantizer is a MODEL (k×dim floats), not data:
# real IVF systems train it once per corpus and amortize it across
# every query AND process, so the engine stages it through the
# artifact store (census_artifact: weakref'd session memo + JSON
# sidecar on disk, fingerprint-keyed), so a fresh process does not
# refit it.


def ivf_centroids(spark: SparkSession, sf_dir: str, e: DataFrame):
    """The staged coarse quantizer for the corpus — shared by every
    IVF consumer (the q_ann_recall sweep, the on-disk index build), so
    a sweep over nprobe costs zero refits and a fresh process reloads
    the model instead of re-fitting."""
    return census_artifact(
        spark,
        sf_dir,
        f"ivf_centroids:{IVF_K}:{IVF_ITERS}",
        lambda: ivf_fit(
            e, "v", "vec_id", k=IVF_K, iters=IVF_ITERS
        ).tolist(),
    )


def cached_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """The ON-DISK IVF index for the corpus — built once per CORPUS
    into the artifact store and reused by every consumer and process
    (the q_ann_recall sweep's IVF tier, ad-hoc ivf_search_index calls),
    so the sweep audits the REAL shipped artifact (partitionBy(cluster)
    layout + centroid sidecar, operators/ivf_index.py) instead of an
    in-plan filter twin. Reuses the staged ``ivf_centroids`` quantizer,
    so every IVF consumer shares one model and comparable cluster ids.
    Staged through ``artifact_directory``, inheriting the store's
    ``flock`` build lock (concurrent consumers, threads or processes,
    never double-write the index), its atomic publish,
    superseded-generation removal (no leaked temp-dir copies), and
    corpus-fingerprint keying: a regenerated corpus rebuilds instead
    of serving a stale index."""

    def _build(path: str) -> None:
        ivf_write_index(
            spread(_t(spark, sf_dir, "embeddings")),
            path,
            k=IVF_K,
            iters=IVF_ITERS,
            centroids=ivf_centroids(
                spark, sf_dir, embedding_frame(spark, sf_dir)
            ),
        )

    return artifact_directory(
        sf_dir, f"ivf_index:{IVF_K}:{IVF_ITERS}", _build
    )


EMBED_ND_BITS = 32


def _embed_neardup_pairs_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    n_bits, band_bits, n_bands = EMBED_ND_BITS, 8, 4
    e = embedding_frame(spark, sf_dir)
    planes = random_hyperplanes(n_bits, 64)
    sigs = e.withColumn("sig", sign_bits(F.col("v"), planes))
    bands = sigs.select(
        "vec_id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("sig", b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "v", "bk.band", "bk.key")
    small = (
        bands.groupBy("band", "key")
        .agg(F.collect_list(F.struct("vec_id", "v")).alias("vecs"))
        .filter(F.size("vecs") >= 2)
    )
    pairs = (
        small.select(
            F.explode(
                capped_pair_array(
                    F.col("vecs"),
                    "vec_id",
                    "v",
                    "vec_a",
                    "vec_b",
                    seed_col=F.col("band"),
                )
            ).alias("p")
        )
        .select(
            "p.vec_a",
            "p.vec_b",
            F.round(cosine(F.col("p.pa"), F.col("p.pb")), 4).alias(
                "cos_sim"
            ),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return pairs


def ann_recall_census_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE recall-census construction q_ann_recall stages per corpus
    (keeps ``ord`` so the staged frame re-sorts deterministically
    after a parquet round-trip)."""
    exact = similarity_topk(spark, sf_dir).select("vec_id")
    tiers, top = ann_sweep_parts(spark, sf_dir)
    hits = top.join(exact, "vec_id").groupBy("ord").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    # Per-point scan cost — constant across a point's top-10 rows, so
    # max == the value; a point with zero candidates has no rows and
    # coalesces to 0 below.
    cands = top.groupBy("ord").agg(
        F.max("n_candidates").alias("n_candidates")
    )
    tiers_dim = spark.createDataFrame(
        [(i, m, pt, sh) for i, (m, pt, sh) in enumerate(tiers)],
        "ord int, method string, operating_point string, shipped boolean",
    )
    return (
        tiers_dim.join(F.broadcast(hits), "ord", "left")
        .join(F.broadcast(cands), "ord", "left")
        .crossJoin(
            F.broadcast(exact.agg(F.count(F.lit(1)).alias("n_exact")))
        )
        .select(
            "method",
            "operating_point",
            "shipped",
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.when(
                F.col("n_exact") > 0,
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_exact").cast("double"),
            ).alias("recall"),
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias(
                "n_candidates"
            ),
            "ord",
        )
    )


def ann_sweep_tiers() -> "list[tuple[str, str, bool]]":
    """The sweep's (method, operating_point, shipped) row list, a pure
    function of the shipped constants — q_ann_recall derives its census
    artifact KEY from this without building any frame, so a warm-corpus
    run never touches the embeddings table at all. Order = registry order:
    sign-LSH radii ascending, then IVF probe counts ascending, then the
    int8 compressed-scan tier (one point — the tier has no knob, it
    re-ranks the WHOLE corpus on quantized cosine, so its n_candidates
    is honestly the corpus size and its recall measures pure
    quantization error)."""
    lsh_radii = sorted({LSH_HAMMING - 2, LSH_HAMMING, LSH_HAMMING + 2})
    nprobes = sorted({IVF_NPROBE // 2, IVF_NPROBE, IVF_NPROBE * 2})
    return (
        [
            ("sign_lsh", f"hamming<={r}", r == LSH_HAMMING)
            for r in lsh_radii
        ]
        + [
            ("ivf_disk", f"nprobe={p}/{IVF_K}", p == IVF_NPROBE)
            for p in nprobes
        ]
        + [("int8_quant", "full-scan int8 rerank", True)]
    )


def ann_sweep_parts(
    spark: SparkSession, sf_dir: str
) -> "tuple[list[tuple[str, str, bool]], DataFrame]":
    """LIVE construction of the recall sweep: returns ``(tiers,
    top)`` where ``tiers`` is the (method, operating_point, shipped)
    row list and ``top`` is the UNSTAGED per-point top-10 frame —
    q_ann_recall stages the census built from it per corpus;
    tests plan-pin THIS frame directly for the properties the staging
    would otherwise hide (the IVF tier's cluster predicate is a
    PARTITION filter over the on-disk index — the audited read path
    IS the 100 TB read path)."""
    # Sweep AROUND the shipped constants (LSH_HAMMING, IVF_NPROBE), so
    # a retune moves both the shipped row and its neighbors — no drift
    # between the measured table and the shipped config. ONE corpus
    # scan serves the three sign-LSH points (cosine + signature
    # hamming in a single pass) and ONE partition-pruned scan of the
    # on-disk IVF index serves the three nprobe points (the probe
    # sets nest — argsort order — so the union filter reads
    # max(nprobe)/k of the index's partitions and each point is a
    # row-level membership predicate over that scan). Per-point
    # top-10 is one WindowGroupLimit shuffle over the exploded
    # (point, candidate) rows; the recall census is a join of 10-row
    # frames. (The first sweep form ran one scan+matmul job PER
    # point — 6x the necessary work, measured 5.3 s at sf0.1 vs
    # ~1.5 s for the shared-scan form.)
    lsh_radii = sorted({LSH_HAMMING - 2, LSH_HAMMING, LSH_HAMMING + 2})
    nprobes = sorted({IVF_NPROBE // 2, IVF_NPROBE, IVF_NPROBE * 2})

    e = embedding_frame(spark, sf_dir)
    sigs = _lsh_sig_live(spark, sf_dir)

    # The probe: vector, signature words and int8 grid, one row.
    row = (
        sigs.filter(F.col("vec_id") == 0)
        .select("v", "sig", int8_grid(F.col("v")).alias("q"))
        .first()
    )
    qsig = [int(w) for w in row["sig"]]
    qv = np.asarray([float(x) for x in row["v"]], dtype=np.float64)
    qlit = F.array(*[F.lit(float(x)) for x in qv])

    # Row-level prefilter on the WIDEST radius BEFORE the cosine: only
    # rows inside some operating point can ever rank, and the hamming
    # test is integer bit arithmetic on the already-computed signature
    # while the cosine is the dim-length dot product — at 100 TB this
    # is the difference between a full matmul scan and a candidate-
    # sized one.
    ham = sum(
        F.bit_count(F.col("sig")[w].bitwiseXOR(F.lit(int(qsig[w])))).cast(
            "long"
        )
        for w in range(LSH_WORDS)
    )
    lsh_scored = (
        sigs.filter(F.col("vec_id") != 0)
        .select("vec_id", "v", ham.alias("ham"))
        .filter(F.col("ham") <= max(lsh_radii))
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), qlit), 4).alias("cos_sim"),
            "ham",
        )
    )

    # The IVF tier audits the SHIPPED artifact: the partitionBy(cluster)
    # on-disk index (operators/ivf_index.py), probed via the staged
    # quantizer (ivf_centroids — the SAME model the index's sidecar
    # stores, so probing via the census-cached copy instead of
    # re-reading the sidecar parquet saves a driver read without
    # changing a single cluster id) — the cluster predicate is a
    # PARTITION filter (directory pruning), so the audited read path
    # IS the 100 TB read path.
    index_path = cached_ivf_index(spark, sf_dir)
    probe_order = ivf_probe_clusters(
        ivf_centroids(spark, sf_dir, e),
        qv,
        max(nprobes),
    )
    ivf_scored = (
        _read_data(spark, index_path)
        .filter(
            F.col("cluster").isin(probe_order) & (F.col("vec_id") != 0)
        )
        .select(
            "vec_id",
            F.round(cosine(F.col("vector"), qlit), 4).alias("cos_sim"),
            "cluster",
        )
    )

    tiers = ann_sweep_tiers()  # the shared single source of truth
    lsh_structs = [F.col("ham") <= r for r in lsh_radii]
    ivf_structs = [
        F.col("cluster").isin(probe_order[:p]) for p in nprobes
    ]

    def _points(scored: DataFrame, structs: list, base: int) -> DataFrame:
        tier_array = F.array(
            *[
                F.struct(F.lit(base + i).alias("ord"), m.alias("member"))
                for i, m in enumerate(structs)
            ]
        )
        return scored.select(
            "vec_id",
            "cos_sim",
            F.explode(F.filter(tier_array, lambda t: t["member"])).alias(
                "t"
            ),
        ).select("vec_id", "cos_sim", F.col("t.ord").alias("ord"))

    # The int8 compressed-scan tier (q_embed_quantize's storage
    # layout audited by the same sweep): rank the WHOLE corpus by
    # QUANTIZED cosine against the quantized probe — no prefilter, so
    # its n_candidates is honestly the corpus size; its recall
    # isolates pure quantization error (1.0 on the harness corpora).
    # At 100 TB this is the 8x-smaller-bytes full-scan tier between
    # the 16-byte signature scan and the partition-pruned IVF read.
    assert len(tiers) == len(lsh_structs) + len(ivf_structs) + 1
    quant_ord = len(lsh_structs) + len(ivf_structs)
    pq_lit = F.array(*[F.lit(int(x)) for x in row["q"]])
    quant_cos = int8_cos(int8_grid(F.col("v")), pq_lit)
    quant_points = e.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.round(quant_cos, 4).alias("cos_sim"),
        F.lit(quant_ord).alias("ord"),
    )

    exploded = (
        _points(lsh_scored, lsh_structs, 0)
        .unionByName(_points(ivf_scored, ivf_structs, len(lsh_structs)))
        .unionByName(quant_points)
    )
    w = Window.partitionBy("ord").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    # n_candidates = the operating point's SCAN COST (how many rows
    # survive its predicate and pay the exact cosine), so the
    # recall-vs-cost trade is recorded as numbers.
    # Counted over the same partitionBy("ord") exchange the ranking
    # window uses (an unordered count window must see the FULL
    # partition, so it rides below the rank's group-limit — Spark
    # keeps it correct by construction), then each surviving top-10
    # row carries its point's count.
    wc = Window.partitionBy("ord")
    top = (
        exploded.withColumn(
            "n_candidates", F.count(F.lit(1)).over(wc)
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
    )
    return tiers, top


# ---------------------------------------------------------------------------
# SemDeDup — semantic (embedding-space) dedup, cluster-then-purge
# ---------------------------------------------------------------------------

# Operating point for the semantic-dedup tier (the SemDeDup composition
# from public pretraining-pipeline literature: cluster the embedding
# space, purge near-identical points WITHIN each cluster, never compare
# across clusters). All three knobs are embedded in the staged artifact
# keys, so a retune can never serve a stale frame.
SEMDEDUP_K = 16  # coarse clusters (per-cluster pair work = the cost knob)
SEMDEDUP_T = 0.30  # quantized-cosine purge threshold. The harness


# corpus plants no true embedding dups (max pairwise cos ~0.53), so
# the shipped threshold sits where the corpus's own similarity tail
# lives — the knob a real pipeline retunes to ~0.95 for genuinely
# duplicated embeddings.
# DERIVED from the constants (never hand-written), so a retune of any
# knob can never serve a stale staged frame.
_SEMDEDUP_TAG = (
    f"k{SEMDEDUP_K}:t{int(round(SEMDEDUP_T * 100)):03d}:c{BUCKET_CAP}"
)


def _int8_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q) — the :func:`int8_grid` of every embedding.
    Map-only; not worth staging."""
    return embedding_frame(spark, sf_dir).select(
        "vec_id", int8_grid(F.col("v")).alias("q")
    )


def semdedup_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, q) — every vector assigned to its nearest seed
    medoid by quantized cosine, staged once per corpus.

    The coarse quantizer is the SEMDEDUP_K smallest vec_ids' int8
    vectors (seed medoids, cid = rank by vec_id).  Deliberately NOT
    the float k-means fit (ivf_centroids): an iterative float argmax
    has no engine-neutral form (why q_ann_ivf is rows-only), while
    seed medoids + integer-grid dots make the WHOLE semantic-dedup
    tier oracle-checkable.  The cluster stage is swappable — at 100 TB
    plug ivf_centroids in and the purge below is unchanged; the
    harness ships the checkable form.  Scale shape: the k medoids are
    a model-sized broadcast (census_artifact class), assignment is one
    scan + one hash shuffle of (vec_id, k) scored rows for the
    per-vector argmax window — never a global window."""

    def build() -> DataFrame:
        quant = _int8_quantized(spark, sf_dir)
        # Model-sized collect: k int8 vectors. Only this build reads
        # them, so they are not staged on their own.
        seed_rows = [
            (i, r["q"])
            for i, r in enumerate(
                quant.orderBy("vec_id").limit(SEMDEDUP_K).collect()
            )
        ]
        seeds = spark.createDataFrame(
            seed_rows, "cid int, sq array<long>"
        )
        scored = quant.crossJoin(F.broadcast(seeds)).select(
            "vec_id",
            "cid",
            "q",
            int8_cos(F.col("q"), F.col("sq")).alias("cosq"),
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("cosq"), F.asc("cid")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", "q")
        )

    return corpus_artifact(
        spark, sf_dir, f"semdedup_assign:k{SEMDEDUP_K}", build
    )


def semdedup_pairs_for(assigned: DataFrame) -> DataFrame:
    """(cid, vec_a, vec_b) — intra-cluster near-dup pairs at
    quantized cosine ≥ SEMDEDUP_T over ANY ``(vec_id, cid, q)``
    assignment frame: the quantizer-agnostic half of the SemDeDup
    tier.  NO all-pairs anywhere: vectors only ever meet inside
    their own cluster (one groupBy(cid) shuffle), and oversized
    clusters are sub-split by capped_pair_array's seeded md5_60
    chunk order (≤ BUCKET_CAP members per chunk → per-cluster work
    O(n·cap), the same skew guard as every near-dup tier).
    Cross-chunk pairs are the documented residual; at 100 TB the
    cluster count scales with the corpus so clusters stay
    cap-sized."""
    grouped = assigned.groupBy("cid").agg(
        F.collect_list(F.struct("vec_id", "q")).alias("vecs")
    )
    return (
        grouped.select(
            "cid",
            F.explode(
                capped_pair_array(
                    F.col("vecs"),
                    "vec_id",
                    "q",
                    "vec_a",
                    "vec_b",
                    seed_col=F.col("cid"),
                )
            ).alias("p"),
        )
        .select(
            "cid",
            "p.vec_a",
            "p.vec_b",
            int8_cos(F.col("p.pa"), F.col("p.pb")).alias("cosq"),
        )
        .filter(F.col("cosq") >= F.lit(SEMDEDUP_T))
        .select("cid", "vec_a", "vec_b")
    )


def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seed-medoid assignment's pair frame, staged once per
    corpus (:func:`semdedup_pairs_for` over :func:`semdedup_assign`)."""
    return corpus_artifact(
        spark,
        sf_dir,
        f"semdedup_pairs:{_SEMDEDUP_TAG}",
        lambda: semdedup_pairs_for(semdedup_assign(spark, sf_dir)),
    )


def semdedup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, comp) — connected components over the intra-cluster
    near-dup pairs; comp = min vec_id of the family.  The fixpoint is
    eager (cluster_labels discipline), so it is staged per corpus;
    survivors = comp representatives, purged = the rest."""
    return corpus_artifact(
        spark,
        sf_dir,
        f"semdedup_labels:{_SEMDEDUP_TAG}",
        lambda: connected_components(
            semdedup_pairs(spark, sf_dir), a="vec_a", b="vec_b"
        ),
    )


def semdedup_census_for(
    assigned: DataFrame, pairs: DataFrame, labels: DataFrame
) -> DataFrame:
    """Per-cluster purge census from an ``(vec_id, cid)`` assignment,
    its pair frame, and its component labels — the quantizer-agnostic
    census q_semdedup ships.  Survivor rule: every node keeps only if
    it IS its component's min id."""
    purged = labels.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("vec_id")
    )
    base = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    ecnt = pairs.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_dup_pairs")
    )
    pcnt = (
        assigned.join(purged, "vec_id", "left_semi")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_purged"))
    )
    zero = F.lit(0).cast("long")
    return (
        base.join(ecnt, "cid", "left")
        .join(pcnt, "cid", "left")
        .select(
            F.col("cid").alias("cluster"),
            "n_vecs",
            F.coalesce(F.col("n_dup_pairs"), zero).alias("n_dup_pairs"),
            F.coalesce(F.col("n_purged"), zero).alias("n_purged"),
            (F.col("n_vecs") - F.coalesce(F.col("n_purged"), zero)).alias(
                "n_kept"
            ),
        )
        .orderBy("cluster")
    )


def semdedup_purge_census(assigned: DataFrame) -> DataFrame:
    """One-call SemDeDup purge census for ANY ``(vec_id, cid, q)``
    assignment frame — the composition the q_semdedup docstring
    promises is swappable: feed the seed-medoid assignment (the
    oracle-checkable harness form) OR a float k-means assignment
    (``ivf_centroids`` + ``assign_clusters`` — the 100 TB quantizer,
    rows-only territory like q_ann_ivf) and get the identical purge
    semantics downstream.  Eager (runs the CC fixpoint); callers
    wanting per-corpus staging use the semdedup_pairs/labels
    artifacts instead.  Proven by
    tests/test_scale_extensions.py::test_semdedup_with_ivf_quantizer."""
    pairs = semdedup_pairs_for(assigned).localCheckpoint()
    labels = connected_components(pairs, a="vec_a", b="vec_b")
    return semdedup_census_for(
        assigned.select("vec_id", "cid"), pairs, labels
    )
