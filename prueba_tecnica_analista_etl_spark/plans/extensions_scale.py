"""Scale-path extension queries — the 100 TB designs: every one
replaces an O(n²) all-pairs comparison with a bucketing scheme (LSH
band join, shared-minhash, sign-bit hamming) whose cost is one shuffle
on the bucket key plus per-bucket work.

ORACLE STATUS: the near-dup family (minhash / ngram-jaccard /
simhash / embed-cosine), the sign-LSH ANN tier, and the composites
built on them (q_corpus_curate — purge fixpoint unrolled in SQL;
q_lsh_recall — truth and found sides both SQL-expressible;
q_multimodal_pipeline — exact nibble-histogram stub features) are
value-proven against generated DuckDB SQL — every hash in their
paths is engine-neutral by construction (``md5_60`` 60-bit prefixes,
the Mersenne-prime seeded minhash family over them, integer-grid
sign bits), so candidate sets, chunked skew splits, and re-rank
scores are bit-identical across engines.  Still rows-only, one
stated reason: q_ann_ivf and q_ann_recall — their k-means assignment
argmax rides unquantized float comparisons, where a cross-engine
near-tie flip would cascade through the fit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import (
    census_artifact,
    corpus_artifact,
)
from prueba_tecnica_analista_etl_spark.functions.text import sql_md5_60
from prueba_tecnica_analista_etl_spark.functions.vectors import (
    as_double,
    cosine,
    random_hyperplanes,
)
from prueba_tecnica_analista_etl_spark.multimodal import (
    FEATURE_DIM,
    extract_features,
    extract_metadata,
    fake_assets,
)
from prueba_tecnica_analista_etl_spark.operators.ivf_index import (
    ivf_search_index,
)
from prueba_tecnica_analista_etl_spark.plans.queries import Shape, query
from prueba_tecnica_analista_etl_spark.session import _stream_session
from prueba_tecnica_analista_etl_spark.sources.tables import _t, spread
from prueba_tecnica_analista_etl_spark.stages.dedup import (
    _LOW30,
    BAND_BITS,
    BUCKET_CAP,
    CHUNK_SEED,
    MINHASH_BANDS,
    MINHASH_COEFFS,
    MINHASH_JACCARD_T,
    MINHASH_P,
    MINHASH_ROWS,
    N_BANDS,
    N_SIMHASH_BITS,
    PURGE_ROUNDS,
    SIMHASH_MAX_HAMMING,
    cached_minhash_pairs,
    doc_shingle_frame,
    exact_dedup,
    minhash_band_frame,
    near_dup_purge,
    ngram_pair_frame,
    pair_combos,
    pairs_from_band_frame,
    quality_gate,
    shingle_frame,
    simhash_pair_frame,
)
from prueba_tecnica_analista_etl_spark.stages.vectors import (
    EMBED_ND_BITS,
    IVF_NPROBE,
    LSH_BITS,
    LSH_HAMMING,
    LSH_WORD_BITS,
    LSH_WORDS,
    SEMDEDUP_K,
    SEMDEDUP_T,
    _embed_neardup_pairs_live,
    ann_lsh_candidates,
    ann_recall_census_live,
    ann_sweep_tiers,
    cached_ivf_index,
    embedding_frame,
    int8_cos,
    int8_grid,
    semdedup_assign,
    semdedup_census_for,
    semdedup_labels,
    semdedup_pairs,
)
from prueba_tecnica_analista_etl_spark.streaming.neardup import (
    accepted_ids,
    foreach_batch_neardup_gate,
)
from prueba_tecnica_analista_etl_spark.streaming.replay import (
    replay_as_stream,
    write_overlapping_replay,
    write_replay_files,
)
from prueba_tecnica_analista_etl_spark.streaming.stateful import (
    dedupe_stream,
)
from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
    DATA,
    foreach_batch_upsert,
)
from prueba_tecnica_analista_etl_spark.streaming.windows import (
    drain_available_now,
    run_available_now,
    sessionize,
)


def _sql_doc_shingle_cte() -> str:
    """Shared oracle CTE text: per-doc DISTINCT 3-token shingles
    (``sh``: doc_id, sg) and their md5_60 hashes (``hs``: doc_id, h)
    over the documents table — the SQL twin of ``shingles()`` /
    ``shingle_hashes()`` (single-space tokenizer; short docs yield one
    whole-text shingle via the greatest(...,1) clamp, exactly like the
    Spark expression)."""
    return f"""
    t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
          FROM documents),
    ix AS (SELECT doc_id, toks,
                  unnest(generate_series(1, greatest(len(toks) - 2, 1)))
                    AS i
           FROM t),
    sh AS (SELECT DISTINCT doc_id,
                  array_to_string(list_slice(toks, i, i + 2), ' ')
                    AS sg
           FROM ix),
    hs AS (SELECT doc_id, {sql_md5_60('sg')} AS h FROM sh)"""


def _sql_chunk(part: str, seed: str, id_col: str) -> str:
    """SQL twin of ``capped_pair_array``'s skew sub-split: the 0-based
    chunk index of ``id_col`` within its ``part`` bucket, ordered by
    the same md5_60("<seed>:<id>") secondary hash the engine sorts on
    (ids are unique per bucket, so the order is total). Buckets at or
    under ``BUCKET_CAP`` land entirely in chunk 0 — identical pair sets to
    the engine's uncapped fast path."""
    h = sql_md5_60(
        f"CAST({seed} AS VARCHAR) || ':' || CAST({id_col} AS VARCHAR)"
    )
    return (
        f"(row_number() OVER (PARTITION BY {part} "
        f"ORDER BY {h}, {id_col}) - 1) // {BUCKET_CAP}"
    )


def _minhash_scored_pairs_cte(capped: bool = True) -> str:
    """Shared oracle CTE chain ending in ``j`` (doc_a, doc_b, _j) —
    the banded-minhash candidate pairs with exact Jaccard, i.e. the
    SQL twin of :func:`minhash_pair_frame` before its threshold gate.
    Every stage is engine-neutral by construction: shingle hashes are
    md5_60 prefixes, the 12 seeded minima are the embedded-literal
    Mersenne-prime family (exact int64 arithmetic), band keys are the
    raw minima triples (joined on plain columns, no combiner hash),
    skew chunks replay the md5_60 secondary order, and the Jaccard
    re-rank counts DISTINCT shared hashes (== array_intersect/
    array_union over the engine's distinct-by-string hash arrays).
    ``capped=False`` omits the chunk split — the twin of
    ``pairs_from_band_frame(cap=None)``, which the streaming gate's
    oracle needs (an incremental consumer cannot reproduce chunk
    boundaries that depend on the FINAL bucket membership).
    Consumers: q_minhash_dedup (threshold + top-100, capped),
    q_corpus_curate (purge input, capped), q_lsh_recall (found side,
    capped), q_stream_neardup (uncapped)."""
    rows, bands = MINHASH_ROWS, MINHASH_BANDS

    def mh(j: int) -> str:
        a, b, c = MINHASH_COEFFS[j]
        return (
            f"min(({a} * (h & {_LOW30}) + {b} * (h >> 30) + {c}) "
            f"% {MINHASH_P})"
        )

    mins = ",\n             ".join(
        f"{mh(j)} AS mh{j}" for j in range(bands * rows)
    )
    bk = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + ", ".join(f"mh{b * rows + r} AS k{r}" for r in range(rows))
        + " FROM mins"
        for b in range(bands)
    )
    keys = ", ".join(f"k{r}" for r in range(rows))
    keyeq = " AND ".join(f"a.k{r} = b.k{r}" for r in range(rows))
    if capped:
        chunk = _sql_chunk(f"band, {keys}", "band", "doc_id")
        r_cte = (
            f"r AS (SELECT doc_id, band, {keys}, {chunk} AS chunk "
            "FROM bk)"
        )
        chunk_eq = " AND a.chunk = b.chunk"
    else:
        r_cte = f"r AS (SELECT doc_id, band, {keys} FROM bk)"
        chunk_eq = ""
    return f"""{_sql_doc_shingle_cte()},
    mins AS (SELECT doc_id, {mins} FROM hs GROUP BY doc_id),
    bk AS ({bk}),
    {r_cte},
    p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM r a JOIN r b
            ON a.band = b.band AND {keyeq}{chunk_eq}
           AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, count(DISTINCT h) AS n FROM hs GROUP BY doc_id),
    iv AS (SELECT p.doc_a, p.doc_b, count(DISTINCT ha.h) AS shared
           FROM p
           JOIN hs ha ON ha.doc_id = p.doc_a
           JOIN hs hb ON hb.doc_id = p.doc_b AND hb.h = ha.h
           GROUP BY 1, 2),
    j AS (SELECT p.doc_a, p.doc_b,
                 CAST(coalesce(iv.shared, 0) AS DOUBLE)
                   / CAST(sa.n + sb.n - coalesce(iv.shared, 0) AS DOUBLE)
                   AS _j
          FROM p
          LEFT JOIN iv ON iv.doc_a = p.doc_a AND iv.doc_b = p.doc_b
          JOIN sz sa ON sa.doc_id = p.doc_a
          JOIN sz sb ON sb.doc_id = p.doc_b)"""


def _minhash_oracle_sql() -> str:
    """DuckDB oracle for the FULL banded-minhash path: the shared
    scored-pairs chain plus the >= 0.5 gate — comparing the SAME IEEE
    division both sides — and the reporting top-100."""
    return f"""
    WITH {_minhash_scored_pairs_cte()}
    SELECT doc_a, doc_b, round(_j, 4) AS jaccard_sim
    FROM j WHERE _j >= {MINHASH_JACCARD_T}
    ORDER BY jaccard_sim DESC, doc_a, doc_b LIMIT 100
    """


@query(
    "q_minhash_dedup",
    _minhash_oracle_sql(),
    doc="Top-100 near-duplicate doc pairs by banded MinHash LSH and exact Jaccard.",
)
def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reporting query rides the MEMOIZED pair frame — the same
    # per-corpus artifact q_corpus_curate purges from and q_dup_matrix
    # censuses (the live construction stays exercised by the
    # streaming gate and the parity/plan suites via minhash_pairs).
    return (
        cached_minhash_pairs(spark, sf_dir)
        .orderBy(F.desc("jaccard_sim"), "doc_a", "doc_b")
        .limit(100)
    )


def _ngram_oracle_sql() -> str:
    """DuckDB oracle for the single-band min-shingle path: bucket key = min
    md5_60 shingle hash (engine-neutral), skew chunks replay the
    constant-seed (``CHUNK_SEED``) md5_60 secondary order, exact trigram
    Jaccard per candidate pair via the shared-shingle count (|A∩B|
    join) and per-doc distinct-shingle census (|A∪B| = n_a + n_b −
    shared)."""
    chunk = _sql_chunk("mh", str(CHUNK_SEED), "doc_id")
    return f"""
    WITH {_sql_doc_shingle_cte()},
    m AS (SELECT doc_id, min(h) AS mh FROM hs GROUP BY doc_id),
    r AS (SELECT doc_id, mh, {chunk} AS chunk FROM m),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM r a JOIN r b
            ON a.mh = b.mh AND a.chunk = b.chunk
           AND a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    iv AS (SELECT p.doc_a, p.doc_b, count(*) AS shared
           FROM p
           JOIN sh sa ON sa.doc_id = p.doc_a
           JOIN sh sb ON sb.doc_id = p.doc_b AND sb.sg = sa.sg
           GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b,
           round(CAST(coalesce(iv.shared, 0) AS DOUBLE)
                 / CAST(sa.n + sb.n - coalesce(iv.shared, 0) AS DOUBLE),
                 4) AS jaccard_sim
    FROM p
    LEFT JOIN iv ON iv.doc_a = p.doc_a AND iv.doc_b = p.doc_b
    JOIN sz sa ON sa.doc_id = p.doc_a
    JOIN sz sb ON sb.doc_id = p.doc_b
    ORDER BY jaccard_sim DESC, p.doc_a, p.doc_b LIMIT 100
    """


@query(
    "q_ngram_jaccard",
    _ngram_oracle_sql(),
    doc="Near-duplicate doc pairs from min-shingle buckets and exact trigram Jaccard.",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pair frame staged whole per corpus (deterministic: md5_60
    # bucket keys, constant-seed skew chunks, exact Jaccard) — the
    # cached_minhash_pairs class; the live construction runs on first
    # build and stays parity-pinned by the suite.
    # Trigrams, not bigrams: over the 31-word corpus vocabulary bigram
    # min-shingle buckets degenerate into near-all-pairs.
    pairs = corpus_artifact(
        spark,
        sf_dir,
        # k3 = the shared doc_shingles_k3 feature artifact this frame
        # consumes; embedded so a shingle-size retune (a new feature
        # artifact) cannot be served a stale pair frame.
        "ngram_jaccard_pairs:k3",
        lambda: ngram_pair_frame(doc_shingle_frame(spark, sf_dir)),
    )
    return pairs.orderBy(
        F.desc("jaccard_sim"), "doc_a", "doc_b"
    ).limit(100)


def _simhash_oracle_sql() -> str:
    """DuckDB oracle for the banded-SimHash path: features are md5_60
    shingle hashes (engine-neutral, < 2^60 so bits 60-63 are zero both
    sides), the signature is the per-bit majority fold 2·ones_j > n —
    EXACT integer arithmetic, so it equals the engine's Arrow/numpy bit
    census bit-for-bit — and bands, skew chunks, hamming, and the <= 8
    gate are all integer ops."""
    bits = "\n             + ".join(
        f"(CASE WHEN 2 * sum((h >> {j}) & 1) > count(*) "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(60)
    )
    bandsel = "\n      UNION ALL ".join(
        f"SELECT doc_id, sig, {b} AS band, "
        f"(sig >> {b * BAND_BITS}) & {(1 << BAND_BITS) - 1} AS key "
        "FROM sc"
        for b in range(N_BANDS)
    )
    chunk = _sql_chunk("band, key", "band", "doc_id")
    return f"""
    WITH {_sql_doc_shingle_cte()},
    sc AS (SELECT doc_id,
                  ({bits})::BIGINT AS sig
           FROM hs GROUP BY doc_id),
    bk AS ({bandsel}),
    r AS (SELECT doc_id, sig, band, key, {chunk} AS chunk FROM bk),
    p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.sig AS sig_a, b.sig AS sig_b
          FROM r a JOIN r b
            ON a.band = b.band AND a.key = b.key
           AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
    FROM p WHERE bit_count(xor(sig_a, sig_b)) <= 8
    ORDER BY hamming, doc_a, doc_b LIMIT 100
    """


@query(
    "q_simhash_dedup",
    _simhash_oracle_sql(),
    doc="Near-duplicate doc pairs by 64-bit SimHash over 3-shingle hashes (hamming <= 8).",
)
def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pair frame staged whole per corpus (deterministic: exact
    # integer majority signature, banded integer keys, seeded skew
    # chunks, integer hamming) — the cached_minhash_pairs class.
    # Shingles, not unigrams: the 31-word corpus vocabulary makes unigram
    # signatures collide for most docs.
    pairs = corpus_artifact(
        spark,
        sf_dir,
        f"simhash_pairs:{N_SIMHASH_BITS}x{N_BANDS}"
        f":h{SIMHASH_MAX_HAMMING}",
        lambda: simhash_pair_frame(doc_shingle_frame(spark, sf_dir)),
    )
    return pairs.orderBy("hamming", "doc_a", "doc_b").limit(100)


def _lsh_oracle_sql() -> str:
    """DuckDB oracle for the FULL 128-bit sign-LSH search path,
    value-proving q_ann_lsh. Possible because every stage is
    engine-neutral by construction:

    * signature — the seeded ±1 planes are embedded as literals and
      each sign bit is ``list_dot_product`` over the SAME
      ``floor(x·1e6 + 0.5)`` integer grid ``sign_words`` uses: int64
      terms, exact in any summation order, so each of the four 32-bit
      signature words is bit-identical across engines;
    * hamming — the SUM of per-word integer ``bit_count(xor(...))``
      both sides (32 bits/word keeps every packed value far inside
      signed-64 in both engines);
    * re-rank — the q_similarity_topk convention (sequential-fold
      double cosine rounded to 4 places, vec_id tiebreak), itself
      oracle-proven.
    """
    planes = random_hyperplanes(LSH_BITS, 64)

    def word(w: int) -> str:
        return " + ".join(
            "(CASE WHEN list_dot_product(qv, ["
            + ", ".join(str(x) for x in planes[w * LSH_WORD_BITS + j])
            + f"]) >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(LSH_WORD_BITS)
        )

    sig_cols = ",\n             ".join(
        f"({word(w)})::BIGINT AS sig{w}" for w in range(LSH_WORDS)
    )
    ham = " + ".join(
        f"bit_count(xor(sig{w}, psig{w}))" for w in range(LSH_WORDS)
    )
    psig_cols = ", ".join(
        f"sig{w} AS psig{w}" for w in range(LSH_WORDS)
    )
    return f"""
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {sig_cols}
      FROM (SELECT vec_id, embedding,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> floor(x*1000000 + 0.5)) AS qv
            FROM embeddings)),
    q AS (SELECT v AS pv, {psig_cols} FROM s WHERE vec_id = 0)
    SELECT vec_id,
           ({ham})::BIGINT AS hamming,
           round(list_dot_product(v, pv)
                 / (sqrt(list_dot_product(v, v))
                    * sqrt(list_dot_product(pv, pv))), 4) AS cos_sim
    FROM s, q
    WHERE vec_id <> 0 AND ({ham}) <= {LSH_HAMMING}
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


@query(
    "q_ann_lsh",
    _lsh_oracle_sql(),
    doc="Top-10 cosine neighbors of one probe among 128-bit sign-LSH candidates.",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        ann_lsh_candidates(spark, sf_dir)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(10)
    )


def _embed_quantize_oracle_sql() -> str:
    """DuckDB oracle for the int8-quantized retrieval path. Every
    stage is engine-deterministic: the per-vector scale is ONE IEEE
    divide (127.0 / max|x|, identical doubles both sides), each
    quantized component is one multiply + floor (round-half-up), the
    quantized dot/norms are exact int64 sums (|q| <= 127, dim 64 →
    dot <= 127²·64 ≈ 2²⁰), and the final cosine is
    deterministic single IEEE ops over identical operands."""
    return """
    WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    m AS (SELECT vec_id, v,
                 127.0 / greatest(list_max(list_transform(v,
                     x -> abs(x))), 1e-12) AS sc
          FROM b),
    s AS (SELECT vec_id, v,
                 list_transform(v,
                     x -> CAST(floor(x * sc + 0.5) AS BIGINT)) AS q
          FROM m),
    p AS (SELECT v AS pv, q AS pq FROM s WHERE vec_id = 0)
    SELECT vec_id,
           round(list_dot_product(q, pq)
                 / (sqrt(list_dot_product(q, q))
                    * sqrt(list_dot_product(pq, pq))), 4) AS cos_q,
           round(list_dot_product(v, pv)
                 / (sqrt(list_dot_product(v, v))
                    * sqrt(list_dot_product(pv, pv))), 4) AS cos_exact
    FROM s, p WHERE vec_id <> 0
    ORDER BY cos_q DESC, vec_id LIMIT 10
    """


@query(
    "q_embed_quantize",
    _embed_quantize_oracle_sql(),
    doc="Top-10 vectors by int8-quantized cosine, beside the exact cosine.",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = embedding_frame(spark, sf_dir)
    quant = e.select("vec_id", "v", int8_grid(F.col("v")).alias("q"))
    p = quant.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("pv"), F.col("q").alias("pq")
    )
    cos_q = int8_cos(F.col("q"), F.col("pq"))
    return (
        quant.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(p))
        .select(
            "vec_id",
            F.round(cos_q, 4).alias("cos_q"),
            F.round(cosine(F.col("v"), F.col("pv")), 4).alias(
                "cos_exact"
            ),
        )
        .orderBy(F.desc("cos_q"), F.asc("vec_id"))
        .limit(10)
    )


@query(
    "q_ann_ivf",
    None,
    doc="Top-10 cosine neighbors of one probe from the 4 nearest of 16 IVF clusters.",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The declared query reads the SHIPPED on-disk index
    # (partitionBy(cluster) layout + sidecar model — the same artifact
    # q_ann_recall audits) instead of re-running the in-plan Arrow
    # assignment over the full corpus on every call: probe selection
    # is identical numpy math on the identical staged quantizer, the
    # stored rows are the same assignment, so the top-10 is
    # row-identical (A/B-proven) while the per-call cost drops from a
    # corpus-wide matmul to a directory-pruned read of nprobe/k of the
    # index bytes — the 100 TB read path executed literally.
    qv = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(as_double(F.col("embedding")).alias("v"))
        .first()[0]
    )
    path = cached_ivf_index(spark, sf_dir)
    return ivf_search_index(
        spark, path, qv, nprobe=IVF_NPROBE, topk=10, exclude_id=0
    )


def _embed_neardup_oracle_sql() -> str:
    """DuckDB oracle for the all-pairs sign-LSH path: the 32-bit signature
    rides the same floor(x·1e6+0.5) integer grid as q_ann_lsh (exact int
    sums → engine-independent bits), band keys and skew chunks are
    integer/md5_60 ops, and the cosine re-rank is the oracle-proven
    sequential-fold double convention."""
    n_bits, band_bits, n_bands = 32, 8, 4
    planes = random_hyperplanes(n_bits, 64)
    bits = " + ".join(
        "(CASE WHEN list_dot_product(qv, ["
        + ", ".join(str(x) for x in planes[j])
        + f"]) >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_bits)
    )
    bandsel = "\n      UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        f"(sig >> {b * band_bits}) & {(1 << band_bits) - 1} AS key "
        "FROM s"
        for b in range(n_bands)
    )
    chunk = _sql_chunk("band, key", "band", "vec_id")
    return f"""
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             ({bits})::BIGINT AS sig
      FROM (SELECT vec_id, embedding,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> floor(x*1000000 + 0.5)) AS qv
            FROM embeddings)),
    bk AS ({bandsel}),
    r AS (SELECT vec_id, band, key, {chunk} AS chunk FROM bk),
    p AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM r a JOIN r b
            ON a.band = b.band AND a.key = b.key
           AND a.chunk = b.chunk AND a.vec_id < b.vec_id)
    SELECT p.vec_a, p.vec_b,
           round(list_dot_product(va.v, vb.v)
                 / (sqrt(list_dot_product(va.v, va.v))
                    * sqrt(list_dot_product(vb.v, vb.v))), 4) AS cos_sim
    FROM p
    JOIN s va ON va.vec_id = p.vec_a
    JOIN s vb ON vb.vec_id = p.vec_b
    ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 100
    """


@query(
    "q_embed_neardup",
    _embed_neardup_oracle_sql(),
    doc="Top-100 most similar embedding pairs among 32-bit sign-LSH band candidates.",
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The scored pair frame is corpus-deterministic (seeded planes,
    # integer-grid signatures, capped buckets) and pair-census sized —
    # staged once per corpus like cached_minhash_pairs; the banded
    # construction (_embed_neardup_pairs_live) runs for real on first
    # build and stays plan/parity-pinned by the test suite.
    # The corpus plants no true duplicates (max pairwise cosine ~0.51),
    # so the query reports the most similar candidate pairs.
    pairs = corpus_artifact(
        spark,
        sf_dir,
        f"embed_neardup_pairs:{EMBED_ND_BITS}",
        lambda: _embed_neardup_pairs_live(spark, sf_dir),
    )
    return pairs.orderBy(F.desc("cos_sim"), "vec_a", "vec_b").limit(100)


@query(
    "q_multimodal_meta",
    """
    SELECT media_type,
           count(*) AS assets,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           round(avg(n_bytes % 1920), 2) AS avg_width
    FROM (
      SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                  WHEN doc_id % 3 = 1 THEN 'audio/wav'
                  ELSE 'video/mp4' END AS media_type,
             octet_length(encode(text)) AS n_bytes
      FROM documents)
    GROUP BY media_type
    ORDER BY media_type
    """,
    doc="Media-type census of metadata extracted from binary assets.",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The metadata frame is corpus-deterministic exactly like the
    # feature frame q_multimodal_pipeline stages —
    # extract-once-store-metadata: the Arrow mapInPandas header-sniff
    # runs once per corpus in the builder (pinned by
    # test_staged_builders_keep_their_arrow_stages) and the declared
    # census folds the stored frame.
    meta = corpus_artifact(
        spark,
        sf_dir,
        "multimodal_meta",
        lambda: extract_metadata(
            fake_assets(spread(_t(spark, sf_dir, "documents")))
        ),
    )
    return (
        meta.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("assets"),
            F.sum("n_bytes").alias("total_bytes"),
            F.round(F.avg("width"), 2).alias("avg_width"),
        )
        .orderBy("media_type")
    )


@query(
    "q_stream_dedupe",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
    """,
    doc="Exactly-once projection of an at-least-once event stream (streaming dedup).",
)
def q_stream_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Assert the invariants the oracle-exactness RESTS on: event_id
    # unique and non-null. NULL-id rows bypass the dedup by design, so
    # a corpus carrying a NULL id inside the duplicated overlap band
    # would emit once per DELIVERY while the oracle emits once per
    # source row — fail loudly instead of hash-mismatching silently.
    # One cheap aggregate, staged per corpus (census_artifact), so the
    # guard costs nothing on reuse.
    def _id_census() -> tuple[int, int, int]:
        row = (
            _t(spark, sf_dir, "events")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count("event_id").alias("n_nonnull"),
                F.countDistinct("event_id").alias("n_distinct"),
            )
            .first()
        )
        return int(row["n"]), int(row["n_nonnull"]), int(row["n_distinct"])

    n, n_nonnull, n_distinct = census_artifact(
        spark, sf_dir, "events_id_invariant", _id_census
    )
    if n_nonnull != n or n_distinct != n:
        raise ValueError(
            "q_stream_dedupe requires unique, non-null event_id "
            f"(rows={n}, non-null={n_nonnull}, distinct={n_distinct}): "
            "with NULL or duplicated source ids the exactly-once sink "
            "is not SQL-equivalent to the plain projection"
        )

    data_dir, schema = write_overlapping_replay(spark, sf_dir)
    s = _stream_session(spark)
    stream = replay_as_stream(s, data_dir, schema, max_files_per_trigger=1)
    # Project before the dedup for sink width: every column the dedup
    # keeps is written to the result sink, and the query reports only
    # (event_id, user_id, ts) — the wide `props` JSON string would
    # dominate the sink's bytes.
    slim = stream.select("event_id", "user_id", "ts")
    # Sink + checkpoint live INSIDE the landing-dir artifact
    # (fingerprint-unique per corpus generation, replay.py), so a
    # regenerated corpus gets a fresh sink instead of a checkpoint
    # pointed at a path that no longer feeds it, a FRESH PROCESS
    # resumes the drained checkpoint (zero micro-batches) and a
    # superseded generation's sink dies with its artifact dir.
    out = run_available_now(
        dedupe_stream(slim),
        s,
        state_dir=os.path.join(
            os.path.dirname(data_dir), "_sinks", "q_stream_dedupe"
        ),
    )
    # Oracle-stable timestamp: epoch MICROS regardless of whether the
    # sink round-trip yields TimestampType (Spark's µs-internal form)
    # or the nanosAsLong raw long — both truncate to the same µs grid
    # the oracle's epoch_us(ts) produces.
    from pyspark.sql import types as T

    ts_us = (
        F.unix_micros(F.col("ts"))
        if isinstance(out.schema["ts"].dataType, T.TimestampType)
        # integer DIV, never float division: ns epochs (~1.7e18) are
        # beyond float64's 2^53 exact-integer range
        else F.expr("ts DIV 1000").cast("long")
    )
    return out.select("event_id", "user_id", ts_us.alias("ts_us"))


@query(
    "q_stream_sessionize",
    """
    WITH x AS (
      SELECT user_id, ts, event_id, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events),
    b AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM x),
    s AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sn
      FROM b),
    g AS (
      SELECT user_id,
             strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               AS session_value,
             max(ts) AS last_ts
      FROM s GROUP BY user_id, sn)
    SELECT user_id, session_start, n_events, session_value
    FROM g
    WHERE epoch_us(last_ts) + 7200000000
            <= (SELECT epoch_us(max(ts)) FROM events)
    """,
    doc="30-minute user sessions of a replayed event stream, finalized 2 hours back.",
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    data_dir, schema = write_replay_files(spark, sf_dir, "events")
    s = _stream_session(spark)
    stream = replay_as_stream(s, data_dir, schema, max_files_per_trigger=2)
    out = run_available_now(
        sessionize(stream),
        s,
        state_dir=os.path.join(
            os.path.dirname(data_dir), "_sinks", "q_stream_sessionize"
        ),
    )
    # Finalization margin (see the oracle note above): stream end_us =
    # last event + 30 min, so last + 2 h <= max  <=>  end_us + 90 min
    # <= max. max(ts) is a scalar subquery over the source, evaluated
    # with the query rather than while its plan is built.
    max_us = (
        _t(spark, sf_dir, "events").agg(F.unix_micros(F.max("ts"))).scalar()
    )
    return out.filter(
        F.col("end_us") + F.lit(5_400_000_000) <= max_us
    ).drop("end_us")


def _corpus_curate_oracle_sql() -> str:
    """DuckDB oracle for the FULL curation pipeline (enabled by the
    engine-neutral minhash pairs): quality
    gate (>= 4 tokens), exact dedup
    (row_number keep-first per text), endpoint-restricted pairs, the
    greedy min-id survivor FIXPOINT unrolled to the engine's exact
    ``PURGE_ROUNDS`` iterations (alive_k = endpoints − {b : ∃(a,b), a ∈
    alive_{k−1}}, alive_0 = endpoints), and the final enforcement
    pass dropping doc_b of any still-both-alive pair — the same
    no-surviving-near-dup-pair invariant, term for term."""
    alive = ["ep"]
    cte_rounds = []
    for k in range(1, PURGE_ROUNDS + 1):
        # losers_k = doc_b of pairs whose doc_a is alive; alive_k =
        # endpoints EXCEPT losers_k — plain joins/EXCEPT (set-safe:
        # every frame is distinct ids), not correlated NOT IN. Every
        # multi-referenced CTE here is MATERIALIZED: DuckDB inlines
        # CTEs by default, so without the hint the full minhash pair
        # chain re-evaluates once per reference (~10×, measured 60 s
        # vs 1.5 s at sf0.01).
        cte_rounds.append(
            f"a{k} AS MATERIALIZED (SELECT doc_id FROM ep EXCEPT "
            f"SELECT r.doc_b FROM rp r "
            f"JOIN {alive[-1]} x ON x.doc_id = r.doc_a)"
        )
        alive.append(f"a{k}")
    last = alive[-1]
    rounds_sql = ",\n    ".join(cte_rounds)
    return f"""
    WITH {_minhash_scored_pairs_cte()},
    ap AS MATERIALIZED (SELECT doc_a, doc_b FROM j WHERE _j >= 0.5),
    gated AS (SELECT doc_id, lang, text,
                     CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                       AS n_tokens
              FROM documents
              WHERE len(string_split(lower(text), ' ')) >= 4),
    dd AS MATERIALIZED (SELECT doc_id, lang, n_tokens FROM (
             SELECT doc_id, lang, n_tokens,
                    row_number() OVER (PARTITION BY text
                                       ORDER BY doc_id) AS rn
             FROM gated) WHERE rn = 1),
    rp AS MATERIALIZED (SELECT p.doc_a, p.doc_b FROM ap p
           JOIN dd da ON da.doc_id = p.doc_a
           JOIN dd db ON db.doc_id = p.doc_b),
    ep AS MATERIALIZED (SELECT doc_a AS doc_id FROM rp
           UNION SELECT doc_b FROM rp),
    {rounds_sql},
    af AS (SELECT doc_id FROM {last} EXCEPT
           SELECT r.doc_b FROM rp r
           JOIN {last} x ON x.doc_id = r.doc_a
           JOIN {last} y ON y.doc_id = r.doc_b),
    dr AS (SELECT doc_id FROM ep EXCEPT SELECT doc_id FROM af)
    SELECT dd.doc_id, dd.lang, dd.n_tokens FROM dd
    LEFT JOIN dr ON dr.doc_id = dd.doc_id
    WHERE dr.doc_id IS NULL
    """


@query(
    "q_corpus_curate",
    _corpus_curate_oracle_sql(),
    doc="Curated corpus: length gate, exact dedup, then MinHash near-duplicate purge.",
)
def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    gated = quality_gate(docs, min_tokens=4)
    deduped = exact_dedup(gated)
    # the UNCAPPED pair frame (memoized per session+corpus like the
    # IVF quantizer) — never the reporting query's top-100
    pairs = cached_minhash_pairs(spark, sf_dir)
    return near_dup_purge(deduped, pairs).select(
        "doc_id", "lang", "n_tokens"
    )


def _multimodal_pipeline_oracle_sql() -> str:
    """DuckDB oracle for the multimodal retrieve-similar pipeline.
    Sound because, ON THE FAKE-ASSET
    CORPUS, the engine's extractor deterministically takes the
    byte-histogram path — the UTF-8 payloads never decode as images,
    with or without PIL — and that stub is exact arithmetic:
    ``byte % 16`` is the byte's LOW HEX NIBBLE, so the histogram is a
    count of each hex digit at the even positions of hex(content);
    the L2 norm sums 16 integer squares (exact in float64 in any
    summation order), and the single divide + float32 cast are
    deterministic IEEE ops both engines perform identically. Real
    image corpora take the PIL pixel tier, which this oracle does
    not model (the oracle, like every other, is defined against the
    harness corpus)."""
    assert FEATURE_DIM == 16, "nibble-histogram oracle is specific to 16"
    dim = FEATURE_DIM
    # DuckDB hex() emits UPPERCASE digits (unlike its md5()).
    hexd = "0123456789ABCDEF"
    cnts = ",\n                  ".join(
        f"CAST(sum(CASE WHEN substr(h, 2*i, 1) = '{hexd[k]}' "
        f"THEN 1 ELSE 0 END) AS DOUBLE) AS c{k}"
        for k in range(dim)
    )
    norm = "sqrt(" + " + ".join(f"c{k}*c{k}" for k in range(dim)) + ")"
    # coalesce: an EMPTY payload has no nibble rows (generate_series
    # over 0 bytes), but the engine still emits its all-zero vector —
    # the LEFT JOIN + coalesce keeps that asset with c_k = 0.
    vec = ", ".join(
        f"CAST(CAST(CASE WHEN nrm > 0 THEN coalesce(c{k}, 0)/nrm "
        f"ELSE coalesce(c{k}, 0) END AS FLOAT) AS DOUBLE)"
        for k in range(dim)
    )
    return f"""
    WITH hx AS (SELECT doc_id AS asset_id,
                       CASE CAST(doc_id % 3 AS INT)
                            WHEN 0 THEN 'image/png'
                            WHEN 1 THEN 'audio/wav'
                            ELSE 'video/mp4' END AS media_type,
                       hex(encode(text)) AS h
                FROM documents WHERE text IS NOT NULL),
    nb AS (SELECT asset_id, h,
                  unnest(generate_series(1, len(h) // 2)) AS i
           FROM hx),
    cn AS (SELECT asset_id,
                  {cnts}
           FROM nb GROUP BY asset_id),
    nr AS (SELECT asset_id, {norm} AS nrm,
                  {', '.join(f'c{k}' for k in range(dim))}
           FROM cn),
    ft AS (SELECT hx.asset_id, hx.media_type, [{vec}] AS v
           FROM hx LEFT JOIN nr ON nr.asset_id = hx.asset_id),
    pf AS (SELECT v AS pv FROM ft WHERE asset_id = 1)
    SELECT f.asset_id, f.media_type,
           round(list_dot_product(f.v, pf.pv)
                 / (sqrt(list_dot_product(f.v, f.v))
                    * sqrt(list_dot_product(pf.pv, pf.pv))), 4)
             AS cos_sim
    FROM ft f, pf
    WHERE f.asset_id <> 1
    ORDER BY cos_sim DESC, f.asset_id LIMIT 10
    """


@query(
    "q_multimodal_pipeline",
    _multimodal_pipeline_oracle_sql(),
    doc="Top-10 assets by cosine of their staged features to a probe asset's.",
    shape=Shape(has=("TakeOrderedAndProject",), max_exchanges=0),
)
def q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The extracted feature frame is corpus-deterministic (the stub
    # extractor is a seeded function of the asset bytes) — staged
    # ONCE per corpus: extract-once-store-features is exactly
    # what a production multimodal pipeline does, and every later
    # consumer (probe fetch included) filters the checkpointed frame
    # instead of re-running the Arrow extraction stage. Pre-staging
    # also removes the old caveat that predicates cannot push through
    # an opaque mapInPandas: against a checkpointed frame the probe
    # filter is just a scan filter.
    all_feats = corpus_artifact(
        spark,
        sf_dir,
        "multimodal_features16",
        lambda: extract_features(
            fake_assets(spread(_t(spark, sf_dir, "documents")))
        ),
    )
    feats = all_feats.filter(F.col("features").isNotNull())
    # model-sized collect (one 16-float vector), the broadcast-probe
    # pattern of q_similarity_topk.
    probe_vec = all_feats.filter(F.col("asset_id") == 1).first()[
        "features"
    ]
    lit_probe = F.array(*[F.lit(float(x)) for x in probe_vec])
    return (
        feats.filter(F.col("asset_id") != 1)
        .select(
            "asset_id",
            "media_type",
            F.round(
                cosine(as_double(F.col("features")), lit_probe), 4
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("asset_id"))
        .limit(10)
    )


@query(
    "q_stream_cdc_apply",
    """
    WITH log AS (SELECT user_id, ts, event_id,
                        CASE WHEN event_type = 'purchase' THEN 'D'
                             ELSE 'U' END AS op,
                        value
                 FROM events WHERE user_id IS NOT NULL),
         last AS (SELECT user_id, event_id, op, value,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC,
                                                     event_id DESC)
                           AS rn
                  FROM log)
    SELECT user_id, event_id, value FROM last WHERE rn = 1 AND op <> 'D'
    """,
    doc="Live users with their last event, from a replayed change log through the CDC sink.",
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    data_dir, schema = write_replay_files(spark, sf_dir, "events")
    s = _stream_session(spark)
    stream = (
        replay_as_stream(s, data_dir, schema, max_files_per_trigger=2)
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "purchase", "D")
            .otherwise("U")
            .alias("op"),
            "value",
        )
    )
    # Persistent target + checkpoint per (query, corpus-generation),
    # drained by windows.drain_available_now: rooted
    # INSIDE the landing-dir artifact, so the first invocation EVER
    # (per corpus) replays the change log; every later one — including
    # a fresh process — RESUMES the checkpoint, finds no new files,
    # applies zero batches (the idempotency ledger makes even a
    # re-delivered batch a fixpoint) and the lazy snapshot read below
    # is the whole cost. A superseded generation's target dies with
    # its artifact dir. The result is the LAZY batch read of the
    # materialized target, never a driver collect: at 100 TB consumers
    # scan the upsert target exactly like this.
    state_root = os.path.join(
        os.path.dirname(data_dir), "_sinks", "q_stream_cdc_apply"
    )
    target = os.path.join(state_root, "target")
    drain_available_now(
        stream.writeStream.foreachBatch(
            foreach_batch_upsert(
                s,
                target,
                ["user_id"],
                op_col="op",
                cdc_order=[F.desc("ts"), F.desc("event_id")],
            )
        ).outputMode("update"),
        state_root,
    )
    return spark.read.parquet(os.path.join(target, DATA)).select(
        "user_id", "event_id", "value"
    )


# Purge-recursion unroll depth of the q_stream_neardup oracle; the
# parity test guards measured chain depth <= UNROLL // 2 so a corpus
# drift surfaces as a loud assertion, never a silent oracle mismatch.
STREAM_NEARDUP_UNROLL = 16


def _stream_neardup_oracle_sql() -> str:
    """DuckDB oracle for the streaming near-dup gate. The drained accepted
    set equals the batch greedy min-id survivor FIXPOINT over the full
    corpus (arrival order == id order by construction: range-partitioned
    replay on doc_id), and the fixpoint is the q_corpus_curate purge
    recursion unrolled — here to ``STREAM_NEARDUP_UNROLL`` rounds
    with NO enforcement pass: the stream computes the exact greedy set,
    and once the unroll reaches the corpus's alternating-chain depth the
    iterate IS the fixpoint (measured depth 2 at sf0.001/0.01/0.1 —
    near-dup families are cliques — so 16 is an 8× margin; the
    stream-vs-batch parity test measures the depth every run and trips
    at HALF the unroll, so a drifting corpus surfaces as a named
    assertion long before the registered oracle could go silently
    wrong). Pairs are the UNCAPPED CTE variant: the gate's contract is
    exhaustive-within-bucket — admitting a doc because its accepted
    match sat in another skew chunk would be a quality bug, and an
    incremental consumer could not reproduce chunk boundaries that
    depend on FINAL bucket membership anyway. No quality gate and no
    exact-dedup stage here — the gate admits everything that is not a
    near-dup of an accepted doc; byte-identical texts are jaccard-1.0
    pairs and fall out of the same rule."""
    alive = ["ep"]
    cte_rounds = []
    for k in range(1, STREAM_NEARDUP_UNROLL + 1):
        cte_rounds.append(
            f"a{k} AS MATERIALIZED (SELECT doc_id FROM ep EXCEPT "
            f"SELECT r.doc_b FROM ap r "
            f"JOIN {alive[-1]} x ON x.doc_id = r.doc_a)"
        )
        alive.append(f"a{k}")
    last = alive[-1]
    rounds_sql = ",\n    ".join(cte_rounds)
    return f"""
    WITH {_minhash_scored_pairs_cte(capped=False)},
    ap AS MATERIALIZED (SELECT doc_a, doc_b FROM j WHERE _j >= 0.5),
    ep AS MATERIALIZED (SELECT doc_a AS doc_id FROM ap
                        UNION SELECT doc_b FROM ap),
    {rounds_sql},
    dr AS (SELECT doc_id FROM ep EXCEPT SELECT doc_id FROM {last})
    SELECT d.doc_id, d.lang FROM documents d
    LEFT JOIN dr ON dr.doc_id = d.doc_id
    WHERE dr.doc_id IS NULL
    """


@query(
    "q_stream_neardup",
    _stream_neardup_oracle_sql(),
    doc="Docs a streaming near-duplicate gate admits from a replayed document feed.",
)
def q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    data_dir, schema = write_replay_files(
        spark, sf_dir, "documents", time_col="doc_id"
    )
    s = _stream_session(spark)
    state_root = os.path.join(
        os.path.dirname(data_dir), "_sinks", "q_stream_neardup"
    )
    index_dir = os.path.join(state_root, "index")
    stream = replay_as_stream(
        s, data_dir, schema, max_files_per_trigger=2
    ).select("doc_id", "text")
    drain_available_now(
        stream.writeStream.foreachBatch(
            foreach_batch_neardup_gate(
                index_dir,
                band_frame=lambda batch: minhash_band_frame(
                    shingle_frame(batch)
                ),
                # cap=None: the gate is exhaustive within a bucket (see
                # the module/oracle notes); one threshold governs probe
                # AND intra-batch purge
                pairs_from_bands=lambda banded, thr: (
                    pairs_from_band_frame(banded, threshold=thr, cap=None)
                ),
                threshold=MINHASH_JACCARD_T,
            )
        ).outputMode("update"),
        state_root,
    )
    return _t(spark, sf_dir, "documents").join(
        accepted_ids(spark, index_dir), "doc_id", "left_semi"
    ).select("doc_id", "lang")


def _lsh_recall_oracle_sql() -> str:
    """DuckDB oracle for the recall census: the truth side is the
    share-any-shingle exhaustive Jaccard census over the same md5_60
    shingle hashes (join on h, multiplicities matching the engine's
    per-bucket pair expansion), the found side is the shared
    scored-pairs chain at the 0.5 gate, and the census is one LEFT JOIN
    + counts."""
    return f"""
    WITH {_minhash_scored_pairs_cte()},
    ap AS (SELECT doc_a, doc_b FROM j WHERE _j >= 0.5),
    thp AS (SELECT ha.doc_id AS doc_a, hb.doc_id AS doc_b,
                   count(*) AS inter
            FROM hs ha JOIN hs hb
              ON hb.h = ha.h AND ha.doc_id < hb.doc_id
            GROUP BY 1, 2),
    tsz AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY doc_id),
    truth AS (SELECT doc_a, doc_b FROM thp
              JOIN tsz sa ON sa.doc_id = thp.doc_a
              JOIN tsz sb ON sb.doc_id = thp.doc_b
              WHERE CAST(inter AS DOUBLE)
                    / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
    c AS (SELECT count(*) AS n_true,
                 CAST(coalesce(sum(CASE WHEN f.doc_a IS NOT NULL
                                        THEN 1 END), 0) AS BIGINT)
                   AS n_found
          FROM truth t LEFT JOIN ap f
            ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b)
    SELECT n_true, n_found, n_true - n_found AS n_missed,
           CASE WHEN n_true > 0
                THEN CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE)
           END AS recall
    FROM c
    """


@query(
    "q_lsh_recall",
    _lsh_recall_oracle_sql(),
    doc="Candidate recall of banded MinHash against all pairs with Jaccard >= 0.5.",
)
def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the minhash LSH near-dup tier (ORACLE-EXACT:
    the engine-neutral md5_60 hashing makes both the
    exhaustive truth census and the banded found side
    SQL-expressible; the corpus-artifact staging only caches the
    truth frame — the values are staging-independent).

    The output row is the audit census a curation run reads before
    trusting the LSH tier's purge: n_true (exhaustive pairs at the
    threshold), n_found (of those, how many the banded tier
    surfaced), n_missed, and recall. A recall collapse (e.g. the
    seeded-minhash arity bug this module's comments document, which
    silently collapses all hash functions into one) shows up here as
    a number, not as a silent corpus quality loss. The census is
    exact: the truth frame is built once per corpus, so its O(df²)
    exhaustive side is a one-time cost.
    """

    def _truth() -> DataFrame:
        d = doc_shingle_frame(spark, sf_dir).select("doc_id", "hs")
        # Exhaustive Jaccard WITHOUT shipping shingle arrays into
        # buckets: shingle_hashes is DISTINCT per doc, so |A∩B| is
        # exactly the co-occurrence COUNT of shared hashes — each
        # shared-shingle bucket contributes its (doc_id, set-size)
        # pairs, one groupBy counts a pair's shared buckets, and
        # |A∪B| = na+nb-|A∩B| from the sizes riding the bucket structs
        # (two longs per member). The first form collected (doc_id, hs)
        # structs per bucket — replicating every doc's FULL hash array
        # once per shingle, an O(shingles × |hs|) shuffle — and
        # array-intersected per surfaced pair; the count form shuffles
        # only ids and longs, needs one tokenization pass instead of
        # two, and computes the identical exact Jaccard (set semantics
        # on both sides).
        sh = d.select(
            "doc_id", F.size("hs").alias("n"), F.explode("hs").alias("h")
        )
        g = (
            sh.groupBy("h")
            .agg(
                # struct sorts by its first field, so pair_combos' i<j
                # expansion yields doc_a < doc_b; each member carries
                # its own set size (a long, not the hash array)
                F.array_sort(
                    F.collect_list(F.struct("doc_id", "n"))
                ).alias("docs")
            )
            .filter(F.size("docs") >= 2)
        )
        combos = pair_combos(F.col("docs"), "a", "b")
        return (
            g.select(F.explode(combos).alias("p"))
            .select(
                F.col("p.a.doc_id").alias("doc_a"),
                F.col("p.b.doc_id").alias("doc_b"),
                (F.col("p.a.n") + F.col("p.b.n")).alias("_nsum"),
            )
            .groupBy("doc_a", "doc_b")
            .agg(
                F.count(F.lit(1)).alias("_inter"),
                F.first("_nsum").alias("_nsum"),
            )
            .select(
                "doc_a",
                "doc_b",
                (
                    F.col("_inter").cast("double")
                    / (F.col("_nsum") - F.col("_inter")).cast("double")
                ).alias("_j"),
            )
            # the EXACT predicate minhash_pair_frame gates on — unrounded
            .filter(F.col("_j") >= 0.5)
        )

    # The exhaustive truth is a corpus ARTIFACT — the audit's O(df²)
    # side is paid once per corpus, not once per run or process. The
    # frame persisted is O(true pairs).
    truth = corpus_artifact(spark, sf_dir, "lsh_truth", _truth)
    found = cached_minhash_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    return (
        truth.join(found, ["doc_a", "doc_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_found"),
        )
        .select(
            "n_true",
            "n_found",
            (F.col("n_true") - F.col("n_found")).alias("n_missed"),
            F.when(
                F.col("n_true") > 0,
                F.col("n_found").cast("double")
                / F.col("n_true").cast("double"),
            ).alias("recall"),
        )
    )


@query(
    "q_ann_recall",
    None,
    doc="Recall@10 of sign-LSH and IVF at three operating points each.",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 census for the approximate similarity tiers.

    An IVF index with too few probes or an over-tight hamming radius
    silently degrades retrieval; this census turns that degradation
    into numbers per method (method, n_exact, n_hit, recall,
    n_candidates) the way q_lsh_recall does for the dedup tier.
    Ground truth is the exact brute-force top-10 (q_similarity_topk's
    frame); hits are inner joins on vec_id.

    Reading the numbers: the corpus's true top-10 sits at MODERATE
    cosine (0.27-0.41 at sf0.1), the adversarial regime for sign-LSH —
    signatures of moderate-cosine neighbors are only mildly correlated
    with the probe's. A 16-bit point (hamming<=4, tuned for the near-dup
    regime cos>=0.95) measured recall@10 = 0.2 here, which is exactly
    what this sweep exists to surface; the shipped point is 128 bits /
    hamming<=55 — measured recall@10 = 1.0 at sf0.1 with ~14% of the
    corpus paying the exact-cosine re-rank (n_candidates records it per
    point). IVF prunes partitions but re-ranks with exact cosine, so its
    recall@10 stays high wherever the true neighbors share the probed
    clusters (1.0 on the harness corpus at nprobe=4/16) — IVF remains
    the partition-pruned read tier; the 128-bit signature scan (16
    bytes/vector) is the full-scan tier with a 32x byte cut over raw
    vectors."""
    # The ENTIRE census (6 rows) is corpus-deterministic — seeded
    # planes, fixed probe, fixed operating points — so it is staged
    # whole, and its intermediates (exact truth, probe, scored
    # candidates, per-point top-10) are computed inline in that one
    # build: every artifact of a corpus keys on the same corpus
    # generation, so a staged intermediate would be built exactly when
    # the census is and never read again. Tests plan-pin the live
    # sweep via ann_sweep_parts.
    tiers = ann_sweep_tiers()
    # The key embeds LSH_BITS and the quantization-scheme tag besides
    # the tier labels: a retune changing signature bits or the int8
    # scheme while keeping the same radius/nprobe labels must MISS here
    # and rebuild, not serve a stale census.
    name = f"ann_recall_census:b{LSH_BITS}:int8sym:" + "|".join(
        f"{m}:{pt}:{int(sh)}" for m, pt, sh in tiers
    )
    census = corpus_artifact(
        spark, sf_dir, name, lambda: ann_recall_census_live(spark, sf_dir)
    )
    return census.orderBy("ord").drop("ord")


def _dup_matrix_oracle_sql() -> str:
    """DuckDB oracle: the SAME capped banded-minhash scored-pairs
    chain as q_minhash_dedup, joined to each endpoint's source and
    folded into the (least, greatest) source-pair census. The
    similarity mass rides as an INTEGER (round(_j,4)*10000 — the 4dp
    value both engines already prove hash-equal, rescaled), so
    sums are exact 64-bit arithmetic in any accumulation order."""
    return f"""
    WITH {_minhash_scored_pairs_cte()},
    p2 AS (SELECT doc_a, doc_b, round(_j, 4) AS js
           FROM j WHERE _j >= 0.5),
    m AS (SELECT least(da.source, db.source) AS source_a,
                 greatest(da.source, db.source) AS source_b,
                 CAST(round(js * 10000) AS BIGINT) AS j4
          FROM p2
          JOIN documents da ON da.doc_id = p2.doc_a
          JOIN documents db ON db.doc_id = p2.doc_b)
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(j4) AS BIGINT) AS sum_j_e4
    FROM m GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """


@query(
    "q_dup_matrix",
    _dup_matrix_oracle_sql(),
    doc="Near-duplicate pair count and similarity mass per unordered source pair.",
)
def q_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = cached_minhash_pairs(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    m = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("sb"),
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.round(F.col("jaccard_sim") * 10000)
            .cast("long")
            .alias("j4"),
        )
    )
    return (
        m.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("j4").alias("sum_j_e4"),
        )
        .orderBy("source_a", "source_b")
    )


def _semdedup_oracle_sql() -> str:
    """DuckDB oracle for the whole semantic-dedup tier: int8
    quantization (exact integer grid), seed-medoid assignment
    (row_number over the same quantized-cosine doubles), capped
    intra-cluster pairs (the _sql_chunk replay), recursive-CTE
    components, and the per-cluster purge census — every stage
    engine-neutral by the q_embed_quantize/md5_60 conventions."""
    cos = (
        "list_dot_product({a},{b})::DOUBLE / "
        "(sqrt(list_dot_product({a},{a})::DOUBLE) * "
        "sqrt(list_dot_product({b},{b})::DOUBLE))"
    )
    chunk = _sql_chunk("cid", "cid", "vec_id")
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * (127.0 / greatest(
                      list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                              y -> abs(y))), 1e-12))
                      + 0.5) AS BIGINT)) AS q
      FROM embeddings),
    seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                     q AS sq
              FROM qv ORDER BY vec_id LIMIT {SEMDEDUP_K}),
    ass AS (
      SELECT vec_id, cid, q,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY {cos.format(a="q", b="sq")} DESC, cid ASC) AS rn
      FROM qv, seeds),
    a AS (SELECT vec_id, cid, q FROM ass WHERE rn = 1),
    r AS (SELECT vec_id, cid, q, {chunk} AS chunk FROM a),
    e AS (SELECT x.cid, x.vec_id AS ea, y.vec_id AS eb
          FROM r x JOIN r y ON x.cid = y.cid AND x.chunk = y.chunk
                           AND x.vec_id < y.vec_id
          WHERE {cos.format(a="x.q", b="y.q")} >= {SEMDEDUP_T}),
    sym AS (SELECT ea, eb FROM e UNION ALL SELECT eb, ea FROM e),
    nodes AS (SELECT DISTINCT ea AS node FROM sym),
    lab AS (WITH RECURSIVE rr(node, m) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT s.ea, rr.m FROM sym s JOIN rr ON rr.node = s.eb)
            SELECT node, min(m) AS comp FROM rr GROUP BY node),
    purged AS (SELECT node FROM lab WHERE node <> comp),
    base AS (SELECT cid, count(*) AS n_vecs FROM a GROUP BY cid),
    ecnt AS (SELECT cid, count(*) AS n_dup_pairs FROM e GROUP BY cid),
    pcnt AS (SELECT a.cid, count(*) AS n_purged
             FROM purged p JOIN a ON a.vec_id = p.node GROUP BY a.cid)
    SELECT b.cid AS cluster,
           CAST(b.n_vecs AS BIGINT) AS n_vecs,
           CAST(coalesce(ec.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(coalesce(pc.n_purged, 0) AS BIGINT) AS n_purged,
           CAST(b.n_vecs - coalesce(pc.n_purged, 0) AS BIGINT) AS n_kept
    FROM base b
    LEFT JOIN ecnt ec USING (cid)
    LEFT JOIN pcnt pc USING (cid)
    ORDER BY cluster
    """


@query(
    "q_semdedup",
    _semdedup_oracle_sql(),
    doc="Semantic dedup census per embedding cluster: pairs, purged and kept vectors.",
    shape=Shape(lacks=("Exchange SinglePartition",)),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_census_for(
        semdedup_assign(spark, sf_dir).select("vec_id", "cid"),
        semdedup_pairs(spark, sf_dir),
        semdedup_labels(spark, sf_dir),
    )


def _embed_stats_oracle_sql() -> str:
    hug = "CAST(sum(x) AS HUGEINT)"
    hugss = "CAST(sum(x * x) AS HUGEINT)"
    return f"""
    WITH q AS (
      SELECT list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings),
    g AS (SELECT i - 1 AS dim, qv[i] AS x
          FROM q, (SELECT unnest(generate_series(1, 64)) AS i) t)
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(x) AS BIGINT) AS min_e6,
           CAST(max(x) AS BIGINT) AS max_e6,
           CAST({hug} // count(*) AS BIGINT) AS mean_e6,
           CAST((count(*) * {hugss} - {hug} * {hug})
                // (count(*) * count(*)) AS BIGINT) AS var_e12
    FROM g GROUP BY dim ORDER BY dim
    """


@query(
    "q_embed_stats",
    _embed_stats_oracle_sql(),
    doc="Per-dimension embedding moments (n, min, max, mean, variance) on an integer grid.",
    shape=Shape(has=("Generate", "partial_")),
)
def q_embed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread(): posexplode + 64-group partial agg is
    # map-side-reducing from the first operator (A/B: 0.74 -> 0.47 s;
    # the repartition was a full vector shuffle for ~no parallel win).
    e = _t(spark, sf_dir, "embeddings").select(
        as_double(F.col("embedding")).alias("v")
    )
    g = e.select(
        F.posexplode(
            F.transform(
                F.col("v"), lambda x: F.floor(x * 1e6 + F.lit(0.5))
            )
        ).alias("dim", "x")
    )
    dec = "decimal(38,0)"
    return (
        g.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_e6"),
            F.max("x").alias("max_e6"),
            F.sum(F.col("x").cast(dec)).alias("_s"),
            F.sum((F.col("x") * F.col("x")).cast(dec)).alias("_ss"),
        )
        .select(
            "dim",
            "n",
            "min_e6",
            "max_e6",
            F.expr("_s div n").alias("mean_e6"),
            # exact integer variance: (n·Σx² − (Σx)²) div n²; the
            # numerator is non-negative by Cauchy-Schwarz, and both
            # engines truncate integral division toward zero, so the
            # value is engine-identical even for negative means.
            F.expr("(n * _ss - _s * _s) div (n * n)").alias("var_e12"),
        )
        .orderBy("dim")
    )
