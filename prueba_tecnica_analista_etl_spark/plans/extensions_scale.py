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
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.functions.text import (
    jaccard,
    md5_60,
    shingle_hashes,
    shingles,
    simhash64,
    sql_md5_60,
    tokens,
)
from prueba_tecnica_analista_etl_spark.functions.vectors import (
    as_double,
    assign_clusters,
    cosine,
    hamming_words,
    ivf_fit,
    random_hyperplanes,
    sign_bits,
    sign_words,
)
from prueba_tecnica_analista_etl_spark.plans.queries import _t, query
from prueba_tecnica_analista_etl_spark.session import session_clone
from prueba_tecnica_analista_etl_spark.sources.tables import spread
from prueba_tecnica_analista_etl_spark.streaming.replay import (
    replay_as_stream,
    write_overlapping_replay,
    write_replay_files,
)
from prueba_tecnica_analista_etl_spark.streaming.stateful import (
    dedupe_stream,
)
from prueba_tecnica_analista_etl_spark.streaming.windows import (
    drain_available_now,
    run_available_now,
    sessionize,
)


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


def _minhash_coeffs(
    n: int, seed: int = 1105
) -> list[tuple[int, int, int]]:
    rng = random.Random(seed)
    return [
        (
            rng.randrange(1, 1 << 30),
            rng.randrange(1, 1 << 30),
            rng.randrange(1, 1 << 30),
        )
        for _ in range(n)
    ]


MINHASH_COEFFS = _minhash_coeffs(MINHASH_BANDS * MINHASH_ROWS)


def _sql_doc_shingle_cte(k: int = 3) -> str:
    """Shared oracle CTE text: per-doc DISTINCT k-token shingles
    (``sh``: doc_id, sg) and their md5_60 hashes (``hs``: doc_id, h)
    over the documents table — the SQL twin of ``shingles()`` /
    ``shingle_hashes()`` (single-space tokenizer; short docs yield one
    whole-text shingle via the greatest(...,1) clamp, exactly like the
    Spark expression)."""
    return f"""
    t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
          FROM documents),
    ix AS (SELECT doc_id, toks,
                  unnest(generate_series(1, greatest(len(toks) - {k - 1},
                                                     1))) AS i
           FROM t),
    sh AS (SELECT DISTINCT doc_id,
                  array_to_string(list_slice(toks, i, i + {k - 1}), ' ')
                    AS sg
           FROM ix),
    hs AS (SELECT doc_id, {sql_md5_60('sg')} AS h FROM sh)"""


def _sql_chunk(part: str, seed: str, id_col: str, cap: int = BUCKET_CAP) -> str:
    """SQL twin of ``capped_pair_array``'s skew sub-split: the 0-based
    chunk index of ``id_col`` within its ``part`` bucket, ordered by
    the same md5_60("<seed>:<id>") secondary hash the engine sorts on
    (ids are unique per bucket, so the order is total). Buckets at or
    under ``cap`` land entirely in chunk 0 — identical pair sets to
    the engine's uncapped fast path."""
    h = sql_md5_60(
        f"CAST({seed} AS VARCHAR) || ':' || CAST({id_col} AS VARCHAR)"
    )
    return (
        f"(row_number() OVER (PARTITION BY {part} "
        f"ORDER BY {h}, {id_col}) - 1) // {cap}"
    )

def capped_pair_array(
    docs_col,
    id_field: str,
    payload_field: str,
    a_name: str,
    b_name: str,
    cap: int | None = BUCKET_CAP,
    seed: int = 7,
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
    the constant ``seed``; their cross-chunk loss is the documented
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
    chunk_seed = F.lit(seed) if seed_col is None else seed_col
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


def doc_shingle_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 3-token shingle features over the ``documents`` corpus,
    staged ONCE per corpus: ``(doc_id, sh, hs)``
    with ``sh`` the distinct shingle strings and ``hs`` their sorted
    md5_60 hashes. The whole near-dup family (minhash, single-band
    n-gram, simhash, the LSH-recall truth side) consumes this one
    artifact instead of each re-running scan→tokenize→shingle→md5 —
    the feature stage is built once per corpus and served from the
    artifact store (corpus_artifact), exactly the
    ``_unigram_scored`` discipline. At 100 TB this is the standard
    move: materialize the per-doc feature frame as a first-class
    dataset and fan the near-dup tiers out from it."""
    from prueba_tecnica_analista_etl_spark.artifacts import corpus_artifact

    def build() -> DataFrame:
        return spread(_t(spark, sf_dir, "documents")).select(
            "doc_id",
            F.array_distinct(shingles(tokens(F.col("text")), 3)).alias(
                "sh"
            ),
            shingle_hashes(tokens(F.col("text")), 3).alias("hs"),
        )

    return corpus_artifact(spark, sf_dir, "doc_shingles_k3", build)


def minhash_band_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = MINHASH_BANDS,
    rows: int = MINHASH_ROWS,
    shingle_n: int = 3,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Per-doc banded minhash signature frame — ``(doc_id, hs, band,
    key)`` with one row per (doc, band), ``hs`` the sorted distinct
    md5_60 shingle hashes and ``key`` the band's struct of row minima
    (engine-neutral end-to-end; see MINHASH_P). The shared candidate
    source for :func:`minhash_pair_frame` (all-pairs batch) and the
    streaming near-dup gate (probe vs accepted index): both join on
    the plain (band, key) columns."""
    n_hashes = bands * rows
    coeffs = _minhash_coeffs(n_hashes)
    if hashed is not None:
        # Pre-staged (doc_id, hs) feature frame — the shared
        # doc_shingle_frame artifact; skips scan→shingle→md5 here.
        d = hashed.select("doc_id", "hs")
    else:
        d = spread(docs).select(
            F.col(id_col).alias("doc_id"),
            shingle_hashes(tokens(F.col(text_col)), shingle_n).alias(
                "hs"
            ),
        )

    def _seeded_min(j: int):
        a, b, c = coeffs[j]
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
                                F.col(f"mh{b * rows + r}").alias(f"k{r}")
                                for r in range(rows)
                            ]
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "hs", "bk.band", "bk.key")


def minhash_pair_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = MINHASH_JACCARD_T,
    bands: int = MINHASH_BANDS,
    rows: int = MINHASH_ROWS,
    shingle_n: int = 3,
    cap: int | None = BUCKET_CAP,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Generic banded-minhash near-dup pair detection over ANY
    (id, text) DataFrame — the user-facing operator API behind the
    ``documents``-table queries (``minhash_pairs`` below is this at
    the harness defaults). Emits every ordered pair (doc_a < doc_b)
    with exact Jaccard ≥ ``threshold`` over ``shingle_n``-token
    shingles, candidate-generated by ``bands``×``rows`` banded LSH
    (recall at similarity s ≈ 1-(1-s^rows)^bands — tune the split to
    the target threshold). Output columns are always
    (doc_a, doc_b, jaccard_sim) regardless of ``id_col``.

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
    banded = minhash_band_frame(
        docs,
        id_col=id_col,
        text_col=text_col,
        bands=bands,
        rows=rows,
        shingle_n=shingle_n,
        hashed=hashed,
    )
    return pairs_from_band_frame(banded, threshold=threshold, cap=cap)


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
    return minhash_pair_frame(
        _t(spark, sf_dir, "documents"),
        hashed=doc_shingle_frame(spark, sf_dir),
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
    return f"""{_sql_doc_shingle_cte(3)},
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
    doc="D6 (near-dup, MinHash+LSH), ORACLE-EXACT end-to-end: "
    "banded minhash over 3-token shingles, pure "
    "DataFrame ops. Signature = 12 seeded Mersenne-prime minima over "
    "engine-neutral md5_60 shingle hashes, grouped 4 bands × 3 rows; "
    "candidates share a band's minima triple (one explode + one "
    "shuffle on the key), oversized buckets sub-split with a "
    "band-dependent md5_60 secondary hash (skew guard), exact Jaccard "
    "re-rank on candidates only — O(n·b) join input instead of O(n²) "
    "all-pairs. Reporting query = top-100 of minhash_pairs; pipelines "
    "consume the uncapped frame.",
)
def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reporting query rides the MEMOIZED pair frame — the same
    # per-corpus artifact q_corpus_curate purges from and q_dup_matrix
    # censuses (the live construction stays exercised by the
    # streaming gate and the parity/plan suites via minhash_pairs).
    from prueba_tecnica_analista_etl_spark.pipelines.corpus import (
        cached_minhash_pairs,
    )

    return (
        cached_minhash_pairs(spark, sf_dir)
        .orderBy(F.desc("jaccard_sim"), "doc_a", "doc_b")
        .limit(100)
    )


def ngram_pair_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Generic single-band min-shingle candidate pairs with exact
    n-gram Jaccard over ANY (id, text) frame (the operator behind
    ``q_ngram_jaccard``). One bucket per minimum shingle hash —
    cheaper and lower-recall than full banded minhash
    (:func:`minhash_pair_frame`); right for the
    catch-obvious-rewrites tier. Output: (doc_a, doc_b,
    jaccard_sim), uncapped."""
    if hashed is not None:
        # Shared doc_shingle_frame artifact: hs is the sorted distinct
        # md5_60 of exactly these shingles, so array_min(hs) ==
        # array_min(transform(sh, md5_60)) — same bucket keys, and the
        # exact-Jaccard re-rank still runs on the shingle STRINGS (the
        # oracle counts strings, not hashes).
        d = hashed.select(
            "doc_id", "sh", F.array_min("hs").alias("minhash")
        )
    else:
        d = spread(docs).select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(
                shingles(tokens(F.col(text_col)), shingle_n)
            ).alias("sh"),
        )
        d = d.withColumn(
            "minhash",
            F.array_min(F.transform("sh", md5_60)),
        )
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


def _ngram_oracle_sql() -> str:
    """DuckDB oracle for the single-band min-shingle path: bucket key = min
    md5_60 shingle hash (engine-neutral), skew chunks replay the
    constant-seed ('7') md5_60 secondary order, exact trigram Jaccard
    per candidate pair via the shared-shingle count (|A∩B| join) and
    per-doc distinct-shingle census (|A∪B| = n_a + n_b − shared)."""
    chunk = _sql_chunk("mh", "7", "doc_id")
    return f"""
    WITH {_sql_doc_shingle_cte(3)},
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
    doc="n-gram Jaccard near-dup, ORACLE-EXACT end-to-end: "
    "trigram-shingle sets, candidates = docs sharing the "
    "global min md5_60 shingle hash (1-band minhash LSH, engine-"
    "neutral), exact Jaccard on candidates only. One groupBy(minhash) "
    "shuffle replaces the n² comparison; oversized buckets are "
    "sub-split by a secondary md5_60 hash into <=BUCKET_CAP chunks "
    "(skew guard: a popular min-shingle would otherwise create one "
    "quadratic bucket; sub-splitting bounds work at n*cap while still "
    "emitting intra-chunk pairs). Trigrams, not bigrams: the corpus "
    "vocabulary is tiny (31 words → ~900 possible bigrams), so bigram "
    "min-shingle buckets degenerate into near-all-pairs; trigram "
    "space (27k observed) keeps fan-out bounded.",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    # Pair frame staged whole per corpus (deterministic: md5_60
    # bucket keys, constant-seed skew chunks, exact Jaccard) — the
    # cached_minhash_pairs class; the live construction runs on first
    # build and stays parity-pinned by the suite.
    pairs = corpus_artifact(
        spark,
        sf_dir,
        # k3 = the shared doc_shingles_k3 feature artifact this frame
        # consumes; embedded so a shingle-size retune (a new feature
        # artifact) cannot be served a stale pair frame.
        "ngram_jaccard_pairs:k3",
        lambda: ngram_pair_frame(
            _t(spark, sf_dir, "documents"),
            hashed=doc_shingle_frame(spark, sf_dir),
        ),
    )
    return pairs.orderBy(
        F.desc("jaccard_sim"), "doc_a", "doc_b"
    ).limit(100)


N_SIMHASH_BITS = 64
N_BANDS = 4
BAND_BITS = N_SIMHASH_BITS // N_BANDS
# Candidate gate: banded collisions are kept only at hamming distance
# ≤ this. Part of the staged pair frame's operating point, so it is
# embedded in the simhash_pairs artifact key (a retune must produce a
# fresh frame, not serve the stale cached one).
SIMHASH_MAX_HAMMING = 8


def simhash_pair_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    shingle_n: int = 3,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """Generic banded-SimHash near-dup pairs over ANY (id, text)
    frame (the operator behind ``q_simhash_dedup``): 64-bit majority
    signature over ``shingle_n``-shingle features, 4×16-bit bands,
    candidates kept at hamming distance ≤ ``max_hamming``. Output:
    (doc_a, doc_b, hamming), uncapped."""
    if hashed is not None:
        # hs is the distinct md5_60 set of exactly these shingles, and
        # the bit census is order- and duplicate-set-insensitive, so
        # simhash64(hs) == simhash64(transform(distinct(sh), md5_60)).
        sigs = hashed.select("doc_id", simhash64(F.col("hs")).alias("sig"))
    else:
        sigs = (
            spread(docs)
            .select(
                F.col(id_col).alias("doc_id"),
                F.array_distinct(
                    shingles(tokens(F.col(text_col)), shingle_n)
                ).alias("sh"),
            )
            .select(
                "doc_id",
                simhash64(F.transform("sh", md5_60)).alias("sig"),
            )
        )
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
        .filter(F.col("hamming") <= max_hamming)
    )


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
    WITH {_sql_doc_shingle_cte(3)},
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
    doc="SimHash near-dup, ORACLE-EXACT end-to-end: "
    "64-bit majority signature over 3-shingle md5_60 "
    "features (JVM hashing + Arrow-batched numpy bit census — exact "
    "integer majority, reproduced bit-for-bit by a SQL fold), banded "
    "4×16 bits; candidates share a band value (one shuffle on "
    "(band, value), buckets skew-capped), kept if hamming(sig) <= 8. "
    "Features are shingles, not unigrams: the 31-word corpus "
    "vocabulary makes unigram signatures collide for most docs "
    "(degenerate bands → near-n² candidates).",
)
def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    # Pair frame staged whole per corpus (deterministic: exact
    # integer majority signature, banded integer keys, seeded skew
    # chunks, integer hamming) — the cached_minhash_pairs class.
    pairs = corpus_artifact(
        spark,
        sf_dir,
        f"simhash_pairs:{N_SIMHASH_BITS}x{N_BANDS}"
        f":h{SIMHASH_MAX_HAMMING}",
        lambda: simhash_pair_frame(
            _t(spark, sf_dir, "documents"),
            hashed=doc_shingle_frame(spark, sf_dir),
        ),
    )
    return pairs.orderBy("hamming", "doc_a", "doc_b").limit(100)


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
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    return corpus_artifact(
        spark,
        sf_dir,
        f"lsh_sigs:{LSH_BITS}x{LSH_WORD_BITS}:s42",
        lambda: _lsh_sig_live(spark, sf_dir),
    )


def _lsh_sig_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live (vec_id, v, sig) construction :func:`lsh_sig_frame`
    stages — named so the builder-Arrow plan pin can see it."""
    # spread() before the signature matmul: a one-file embeddings
    # table arrives as ONE partition and the Arrow UDF would run
    # the whole corpus serially.
    e = spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    planes = random_hyperplanes(LSH_BITS, 64, seed=42)
    return e.withColumn(
        "sig", sign_words(F.col("v"), planes, LSH_WORD_BITS)
    )


def ann_lsh_candidates(
    spark: SparkSession, sf_dir: str, max_hamming: int = LSH_HAMMING
) -> DataFrame:
    """Sign-LSH candidate frame for the vec_id=0 probe: every corpus
    vector within ``max_hamming`` of the probe's 128-bit signature
    (4×32-bit words), with its hamming distance and exact cosine. One
    signature matmul + one broadcast probe + one filter. Consumer:
    ``ann_lsh`` / ``q_ann_lsh`` (the shipped single-tier search). The
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
        .filter(F.col("hamming") <= max_hamming)
        .select(
            "vec_id",
            "hamming",
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("cos_sim"),
        )
    )


def ann_lsh(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = LSH_HAMMING,
    topk: int = 10,
) -> DataFrame:
    return (
        ann_lsh_candidates(spark, sf_dir, max_hamming)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(topk)
    )


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
    planes = random_hyperplanes(LSH_BITS, 64, seed=42)

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
    doc="ANN via sign-LSH, ORACLE-EXACT end-to-end (128 bits: the "
    "recall sweep measured the 16-bit point at recall@10 = 0.2): "
    "128 ±1-hyperplane sign bits per vector packed as 4x32-bit "
    "words over the floor(x*1e6+0.5) integer grid — int64 dot "
    "terms are exact in any summation order, so the signature "
    "(and thus the candidate set) is engine-independent; "
    "candidates = hamming(sig, query sig) <= 55 (measured "
    "recall@10 = 1.0 at sf0.1 with ~14% of the corpus as "
    "candidates — the sweep q_ann_recall records the trade), "
    "exact cosine re-rank of candidates only (the oracle-proven "
    "q_similarity_topk ranking convention). Scales as a 16-byte-"
    "per-vector signature scan + candidate-only cosine instead of "
    "full brute force per query.",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann_lsh(spark, sf_dir)


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
    doc="int8 embedding quantization + quantized retrieval (the "
    "vector-compression tier of a training-data pipeline): "
    "symmetric per-vector quantization q_i = floor(x_i·127/max|x| "
    "+ 0.5) — int8 range, engine-deterministic (one IEEE divide for "
    "the scale, one multiply + floor per component) — then top-10 "
    "by QUANTIZED cosine (exact int64 dots, deterministic sqrt/"
    "divide) with the exact-double cosine alongside, so the "
    "compression error is visible per rank. Scale: int8 storage is "
    "8x smaller than the double vectors (4x vs float32) and the "
    "integer dot is SIMD-friendly — the quantized scan tier "
    "complements sign-LSH (16 B/vec signatures) and IVF (partition "
    "pruning); on the harness corpus quantized top-10 membership "
    "matches exact retrieval with |cos_q − cos_exact| <= ~0.003.",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    maxabs = F.array_max(F.transform(F.col("v"), F.abs))
    sc = F.lit(127.0) / F.greatest(maxabs, F.lit(1e-12))
    quant = e.select(
        "vec_id",
        "v",
        F.transform(
            F.col("v"), lambda x: F.floor(x * sc + F.lit(0.5))
        ).alias("q"),
    )
    p = quant.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("pv"), F.col("q").alias("pq")
    )

    def idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    qa, pq = F.col("q"), F.col("pq")
    cos_q = idot(qa, pq).cast("double") / (
        F.sqrt(idot(qa, qa).cast("double"))
        * F.sqrt(idot(pq, pq).cast("double"))
    )
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


# The SHIPPED IVF operating point (swept by q_ann_recall).
IVF_K = 16
IVF_NPROBE = 4

# The fitted coarse quantizer is a MODEL (k×dim floats), not data:
# real IVF systems train it once per corpus and amortize it across
# every query AND process, so the engine stages it through the
# artifact store (census_artifact: weakref'd session memo + pickle
# sidecar on disk, fingerprint-keyed), so a fresh process does not
# refit it.


def ivf_centroids(
    spark: SparkSession,
    sf_dir: str,
    e: DataFrame,
    k: int = 16,
    iters: int = 2,
):
    """The staged coarse quantizer for (corpus, k, iters) — shared by
    every IVF consumer (ann_ivf per nprobe, the q_ann_recall sweep,
    the on-disk index build), so a sweep over nprobe costs zero
    refits and a fresh process reloads the model instead of
    re-fitting."""
    from prueba_tecnica_analista_etl_spark.artifacts import (
        census_artifact,
    )

    return census_artifact(
        spark,
        sf_dir,
        f"ivf_centroids:{k}:{iters}",
        lambda: ivf_fit(e, "v", "vec_id", k=k, iters=iters),
    )


def cached_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    k: int = 16,
    iters: int = 2,
) -> str:
    """The ON-DISK IVF index for (corpus, k, iters) — built once per CORPUS
    into the artifact store and reused by every consumer and process
    (the q_ann_recall sweep's IVF tier, ad-hoc ivf_search_index calls),
    so the sweep audits the REAL shipped artifact (partitionBy(cluster)
    layout + centroid sidecar, operators/ivf_index.py) instead of an
    in-plan filter twin. Reuses the staged ``ivf_centroids`` quantizer,
    so the in-plan ``ann_ivf`` tier and the index share one model and
    their cluster ids are comparable. Staged through
    ``artifact_directory``, inheriting the store's per-key BUILD LOCK
    (concurrent consumers never double-write the index), its atomic
    publish, superseded-generation removal (no leaked temp-dir copies),
    and corpus-fingerprint keying: a regenerated corpus rebuilds instead
    of serving a stale index."""
    from prueba_tecnica_analista_etl_spark.artifacts import (
        artifact_directory,
    )
    from prueba_tecnica_analista_etl_spark.operators.ivf_index import (
        ivf_write_index,
    )

    def _build(path: str) -> None:
        e = spread(_t(spark, sf_dir, "embeddings")).select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        )
        centroids = ivf_centroids(spark, sf_dir, e, k=k, iters=iters)
        ivf_write_index(
            spread(_t(spark, sf_dir, "embeddings")),
            path,
            k=k,
            iters=iters,
            centroids=centroids,
        )

    return artifact_directory(
        sf_dir, f"ivf_index:{k}:{iters}", _build
    )


def ann_ivf(
    spark: SparkSession,
    sf_dir: str,
    k: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    topk: int = 10,
) -> DataFrame:
    """IVF ANN: spherical k-means coarse quantizer (deterministic fit,
    see ``ivf_fit``), corpus assigned to its nearest centroid, query
    probes the ``nprobe`` nearest centroids and exact-cosine re-ranks
    only those clusters' members. With the corpus written partitioned
    by cluster id, a query scans nprobe/k of the data — the IVF scale
    path; ``nprobe == k`` degrades gracefully to exact brute force
    (tested equal). Driver-side cost per query is O(dim + k·dim): the
    query vector and the centroid model, never corpus data."""
    import numpy as np

    e = spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    centroids = ivf_centroids(spark, sf_dir, e, k=k, iters=iters)
    assigned = e.withColumn(
        "cluster", assign_clusters(F.col("v"), centroids)
    )
    qv = np.asarray(
        e.filter(F.col("vec_id") == 0).select("v").collect()[0][0],
        dtype=np.float64,
    )
    Cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    sims = Cn @ (qv / max(np.linalg.norm(qv), 1e-12))
    probes = [int(i) for i in np.argsort(-sims)[:nprobe]]

    q = spark.createDataFrame(
        [(qv.tolist(),)], "qv array<double>"
    )
    return (
        assigned.filter(
            F.col("cluster").isin(probes) & (F.col("vec_id") != 0)
        )
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "cluster",
            F.round(cosine(F.col("v"), F.col("qv")), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(topk)
    )


@query(
    "q_ann_ivf",
    None,
    doc="ANN via IVF (inverted-file index): deterministic spherical "
    "k-means coarse quantizer (k=16, 2 Lloyd iterations, Arrow-matmul "
    "assignment), query probes the 4 nearest centroids, exact cosine "
    "re-rank of those clusters only — the partition-pruned scale path "
    "complementing the sign-LSH variant (q_ann_lsh). nprobe=k is "
    "tested equal to brute force.",
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
    # index bytes — the 100 TB read path executed literally. The live
    # in-plan form stays exercised as ann_ivf (brute-force-equality
    # and recall tests).
    from prueba_tecnica_analista_etl_spark.operators.ivf_index import (
        ivf_search_index,
    )

    qv = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(as_double(F.col("embedding")).alias("v"))
        .first()[0]
    )
    path = cached_ivf_index(spark, sf_dir, k=IVF_K, iters=2)
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
    planes = random_hyperplanes(n_bits, 64, seed=42)
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
    doc="embedding-cosine near-dup (all-pairs), ORACLE-EXACT "
    "end-to-end: 32-bit sign-LSH signature per "
    "vector (Arrow-batched matmul over the engine-neutral integer "
    "grid), candidates = vectors sharing a signature-band (4 bands × "
    "8 bits, one shuffle on the band key, buckets skew-capped), exact "
    "cosine re-rank of candidate pairs only. Sign-LSH: P(bit agree) = "
    "1 − angle/π, so a cos≥0.95 dup pair agrees on an 8-bit band w.p. "
    "~0.43 → ~89%% recall over 4 bands, while a random pair is a "
    "candidate w.p. ~1.6%% — the all-pairs O(n²) comparison is never "
    "materialized. The corpus plants no true dups (max pairwise "
    "cosine ≈0.51), so the query reports the top-100 most-similar "
    "candidate pairs.",
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    # The scored pair frame is corpus-deterministic (seeded planes,
    # integer-grid signatures, capped buckets) and pair-census sized —
    # staged once per corpus like cached_minhash_pairs; the
    # banded construction below runs for real on first build and
    # stays plan/parity-pinned by the test suite.
    pairs = corpus_artifact(
        spark,
        sf_dir,
        f"embed_neardup_pairs:{EMBED_ND_BITS}",
        lambda: _embed_neardup_pairs_live(spark, sf_dir),
    )
    return pairs.orderBy(F.desc("cos_sim"), "vec_a", "vec_b").limit(100)


EMBED_ND_BITS = 32


def _embed_neardup_pairs_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    n_bits, band_bits, n_bands = EMBED_ND_BITS, 8, 4
    e = spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    planes = random_hyperplanes(n_bits, 64, seed=42)
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
    doc="multimodal plumbing: binary asset column + Arrow-batched "
    "mapInPandas metadata extraction, censused by media_type. "
    "Oracle-backed: the deterministic fake assets (UTF-8 payloads, "
    "doc_id%3 media type) make the whole mapInPandas path "
    "SQL-checkable — n_bytes = payload octet length and width = the "
    "length-derived stub (text payloads match no container magic), so "
    "the hash match proves the binary column, Arrow batch flow, and "
    "header-sniff fallback end-to-end. The REAL header parses "
    "(PNG/GIF/JPEG dims, WAV/MP4 durations) are covered by contract "
    "tests on generated container bytes.",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )
    from prueba_tecnica_analista_etl_spark.multimodal import (
        extract_metadata,
        fake_assets,
    )

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


def _stream_session(spark: SparkSession) -> SparkSession:
    """The session the stream queries run on: a memoized clone of
    ``spark`` with 4 shuffle partitions. Stateful ops run exactly
    `shuffle.partitions` state tasks per micro-batch (no AQE in
    streaming), so the session default (sized for batch shuffles)
    over-fragments these replays' tiny state — measured 2× slower at
    32 than 8, and 4 is the sweet spot. The clone shares the
    SparkContext but not the SQL conf, so the caller's session is
    never mutated. At scale this constant is the state-store sizing
    knob and is pinned by the first checkpoint."""
    return session_clone(spark, {"spark.sql.shuffle.partitions": "4"})


@query(
    "q_stream_dedupe",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
    """,
    doc="T10 native streaming dedup (dropDuplicates → "
    "StreamingDeduplicate), ORACLE-EXACT: exactly-once projection of "
    "an at-least-once stream — two overlapping landing files (middle "
    "20% of ids delivered twice, in different micro-batches) pass "
    "through the engine's seen-id state store; every event_id is "
    "emitted exactly once. Because the re-deliveries are identical "
    "copies and event_ids are unique in the source, the drained "
    "exactly-once sink equals the plain projection of the source "
    "table — so plain SQL value-checks the exactly-once property "
    "itself. NULL-id rows bypass the dedup at the plan level; state is "
    "checkpointed with the query.",
)
def q_stream_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.artifacts import (
        census_artifact,
    )

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

    data_dir, schema = write_overlapping_replay(spark, sf_dir, "events")
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
    doc="T4,T5,T7, ORACLE-EXACT: events replayed as a file stream "
    "(availableNow, 2 micro-batches), session_window(30 min) per user "
    "with watermark, append-mode persistent parquet sink (lazy "
    "exactly-once read, incremental resume on re-invocation); returns "
    "sessions finalized with a TWO-HOUR safety margin (last event + "
    "2 h <= the stream's max event time). The margin is what makes "
    "the streaming result SQL-checkable without replicating engine "
    "watermark internals: every session under the margin is provably "
    "finalized (final watermark = max event time - 1 s, far past "
    "last+30 min+margin), the margin filter itself is evaluated on "
    "identical values by both engines, and the withheld tail — "
    "Spark's documented append-mode contract — is excluded on BOTH "
    "sides instead of estimated. "
    "Streaming state is bounded by active keys (watermark eviction).",
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    data_dir, schema = write_replay_files(
        spark, sf_dir, "events", n_files=4
    )
    s = _stream_session(spark)
    stream = replay_as_stream(s, data_dir, schema, max_files_per_trigger=2)
    out = run_available_now(
        sessionize(stream, with_end=True),
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


def _corpus_curate_oracle_sql(rounds: int = 3) -> str:
    """DuckDB oracle for the FULL curation pipeline (enabled by the
    engine-neutral minhash pairs): quality
    gate (>= 4 tokens), exact dedup
    (row_number keep-first per text), endpoint-restricted pairs, the
    greedy min-id survivor FIXPOINT unrolled to the engine's exact
    ``rounds`` iterations (alive_k = endpoints − {b : ∃(a,b), a ∈
    alive_{k−1}}, alive_0 = endpoints), and the final enforcement
    pass dropping doc_b of any still-both-alive pair — the same
    no-surviving-near-dup-pair invariant, term for term."""
    alive = ["ep"]
    cte_rounds = []
    for k in range(1, rounds + 1):
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
    doc="flagship training-data composition, ORACLE-EXACT end-to-end "
    "(the engine-neutral minhash pairs make the "
    "whole DAG SQL-expressible): quality gate (minimum length) "
    "-> exact dedup (content keep-first) -> minhash "
    "near-dup purge (greedy min-id survivor fixpoint, 3 rounds + "
    "enforcement, unrolled term-for-term in the oracle) as ONE lazy "
    "DAG (pipelines/corpus.py); returns the surviving corpus.",
)
def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.pipelines.corpus import (
        exact_dedup,
        near_dup_purge,
        quality_gate,
    )

    docs = _t(spark, sf_dir, "documents")
    gated = quality_gate(docs, min_tokens=4)
    deduped = exact_dedup(gated)
    # the UNCAPPED pair frame (memoized per session+corpus like the
    # IVF quantizer) — never the reporting query's top-100
    from prueba_tecnica_analista_etl_spark.pipelines.corpus import (
        cached_minhash_pairs,
    )

    pairs = cached_minhash_pairs(spark, sf_dir)
    return near_dup_purge(deduped, pairs).select(
        "doc_id", "lang", "n_tokens"
    )


def _multimodal_pipeline_oracle_sql(dim: int = 16) -> str:
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
    assert dim == 16, "nibble-histogram oracle is specific to dim=16"
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
    doc="multimodal END-TO-END composition, ORACLE-EXACT on the "
    "harness corpus (the stub feature stage is "
    "exact integer/IEEE arithmetic, and the fake UTF-8 payloads "
    "never decode as images, so the byte-histogram path is the one "
    "taken with or without PIL): binary assets -> Arrow-batched "
    "feature extraction (byte-histogram stub standing in for a "
    "model forward pass; decoded-pixel histogram where PIL exists "
    "on REAL image corpora, outside this oracle's scope) -> brute "
    "cosine top-10 against a probe asset's vector — the "
    "retrieve-similar-assets loop of a multimodal curation "
    "pipeline, composed from the declared pieces (fake_assets, "
    "extract_features, functions.vectors.cosine). Plan shape: "
    "features are computed in one mapInPandas pass; the probe "
    "vector is a 16-float driver value broadcast into a map-only "
    "cosine + TakeOrderedAndProject top-k — ONE scan of the asset "
    "frame, no self-join, no global sort; at 100 TB this is the "
    "q_similarity_topk shape with the embedding column produced "
    "inline instead of precomputed.",
)
def q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.functions.vectors import (
        cosine,
    )
    from prueba_tecnica_analista_etl_spark.multimodal import (
        extract_features,
        fake_assets,
    )

    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

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
            fake_assets(spread(_t(spark, sf_dir, "documents"))), dim=16
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
    doc="T5 CDC mode end-to-end, ORACLE-EXACT: the events table "
    "replayed as an ORDERED CHANGE LOG on user_id ('purchase' = "
    "delete marker, everything else upsert) through the foreachBatch "
    "CDC sink — per micro-batch the log compacts to its final op per "
    "key, deletes remove target keys, the idempotency ledger makes "
    "replays fixpoints — and the materialized snapshot (live users "
    "with their last event) comes back as the result. Because the "
    "replay is range-partitioned on ts (later batches strictly "
    "override earlier ones) and within-batch compaction picks the "
    "same (ts DESC, event_id DESC) survivor as a global ranking, the "
    "drained target equals the one-shot SQL compaction's live rows — "
    "value-hash-checked (the batch "
    "twin q_cdc_apply proves the census form of the same ranking). "
    "Scale shape: per batch one hash(user_id) compaction shuffle + "
    "the whole-target merge (the documented harness-size trade; the "
    "partitioned sink variant is the 100 TB path).",
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.streaming.replay import (
        replay_as_stream,
        write_replay_files,
    )
    from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
        DATA,
        foreach_batch_upsert,
    )

    data_dir, schema = write_replay_files(
        spark, sf_dir, "events", n_files=4
    )
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


def _stream_neardup_oracle_sql(
    rounds: int = STREAM_NEARDUP_UNROLL,
) -> str:
    """DuckDB oracle for the streaming near-dup gate. The drained accepted
    set equals the batch greedy min-id survivor FIXPOINT over the full
    corpus (arrival order == id order by construction: range-partitioned
    replay on doc_id), and the fixpoint is the q_corpus_curate purge
    recursion unrolled — here to ``rounds`` = ``STREAM_NEARDUP_UNROLL``
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
    for k in range(1, rounds + 1):
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
    doc="STREAMING near-dup gate, ORACLE-EXACT (the "
    "engine-neutral minhash family makes even the streaming tier "
    "value-provable): documents replayed in id order through a "
    "foreachBatch gate that admits a doc only if no ALREADY-ACCEPTED "
    "doc is a near-dup (exact Jaccard >= 0.5 over md5_60 shingle "
    "hashes, candidates via the banded-signature index probe) and "
    "applies the greedy min-id survivor rule within each batch — "
    "the feed-curation twin of the at-rest q_corpus_curate purge. "
    "Accepted index = append-only parquet, one dir per committed "
    "batch (published once = idempotency ledger; replays are "
    "no-ops), split into keys (doc_id, band, key) and docs (doc_id, "
    "hs) frames so the shingle-hash array is stored once per doc, "
    "not once per band. Candidates are UNCAPPED within a bucket — a "
    "gate that admitted a doc because its match sat in another skew "
    "chunk would be a quality bug — so the oracle uses the uncapped "
    "pair CTE. Drained result == the batch greedy fixpoint; the "
    "oracle is the purge recursion unrolled (16 rounds, 8x the "
    "measured corpus chain depth, guard-tested at half the unroll). "
    "The index folds into gen-* generations past 16 loose units "
    "(compact_index), keeping probe cost and file listing bounded "
    "over a long stream. Scale: per batch ONE signature "
    "pass (checkpointed, reused by probe + intra-batch purge + "
    "append) + one (band,key) index probe — the accepted corpus is "
    "touched only through its signature index, never its text.",
)
def q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.streaming.neardup import (
        accepted_ids,
        foreach_batch_neardup_gate,
    )

    data_dir, schema = write_replay_files(
        spark, sf_dir, "documents", n_files=4, time_col="doc_id"
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
                band_frame=minhash_band_frame,
                # cap=None: the gate is exhaustive within a bucket (see
                # the module/oracle notes); one threshold governs probe
                # AND intra-batch purge
                pairs_from_bands=lambda banded, thr: (
                    pairs_from_band_frame(banded, threshold=thr, cap=None)
                ),
            )
        ).outputMode("update"),
        state_root,
    )
    return _t(spark, sf_dir, "documents").join(
        accepted_ids(spark, index_dir), "doc_id", "left_semi"
    ).select("doc_id", "lang")


def _lsh_truth_fraction() -> float:
    """The q_lsh_recall sampling knob, parsed with fail-open
    fallbacks (malformed or out-of-range opt-ins must not break plan
    construction). Snapshotted ONCE at import into
    ``LSH_TRUTH_FRACTION`` and used by BOTH the query fn and its
    generated oracle, so the two sides cannot disagree within a
    process regardless of when a caller mutates the env (bench.py
    additionally sets it before importing the registry)."""
    raw = os.environ.get("SPARK_GRAFT_LSH_TRUTH_FRACTION", "1.0")
    try:
        frac = float(raw)
    except ValueError:
        return 1.0
    if not (0.0 < frac <= 1.0):
        return 1.0
    return frac


LSH_TRUTH_FRACTION = _lsh_truth_fraction()


def _lsh_recall_oracle_sql() -> str:
    """DuckDB oracle for the recall census: the truth side is the
    share-any-shingle exhaustive Jaccard census over the same md5_60
    shingle hashes (join on h, multiplicities matching the engine's
    per-bucket pair expansion), the found side is the shared
    scored-pairs chain at the 0.5 gate, and the census is one LEFT JOIN
    + counts. Built at the import-time ``LSH_TRUTH_FRACTION`` snapshot —
    the same value the query fn uses (the entry point and the parity
    tests never set the env, so the recorded oracle is always the exact
    fraction-1.0 census)."""
    frac = LSH_TRUTH_FRACTION
    sample = ""
    if frac < 1.0:
        from prueba_tecnica_analista_etl_spark.plans.extensions_pipeline import (  # noqa: E501
            _hex_threshold,
        )

        sample = (
            " WHERE substr(md5('lsh-truth:' || "
            f"CAST(doc_id AS VARCHAR)), 1, 8) < '{_hex_threshold(frac)}'"
        )
    return f"""
    WITH {_minhash_scored_pairs_cte()},
    ap AS (SELECT doc_a, doc_b FROM j WHERE _j >= 0.5),
    sd AS (SELECT doc_id FROM documents{sample}),
    thp AS (SELECT ha.doc_id AS doc_a, hb.doc_id AS doc_b,
                   count(*) AS inter
            FROM hs ha JOIN hs hb
              ON hb.h = ha.h AND ha.doc_id < hb.doc_id
            WHERE ha.doc_id IN (SELECT doc_id FROM sd)
              AND hb.doc_id IN (SELECT doc_id FROM sd)
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
           END AS recall,
           CAST({frac} AS DOUBLE) AS truth_fraction
    FROM c
    """


@query(
    "q_lsh_recall",
    _lsh_recall_oracle_sql(),
    doc="LSH quality audit, ORACLE-EXACT (the "
    "engine-neutral md5_60 shingle hashing makes BOTH sides "
    "SQL-expressible): candidate-stage RECALL of the banded "
    "minhash tier against exhaustive ground truth. Truth = every "
    "pair with exact Jaccard >= 0.5 over the same 3-token shingle "
    "hashes, candidate-generated COMPLETELY by share-any-shingle "
    "bucketing (a pair with jaccard > 0 shares a shingle by "
    "definition, so no true pair can escape the bucket join — "
    "unlike the min-shingle or banded tiers, which trade recall "
    "for one bucket per doc[-band]). Found = the memoized banded "
    "minhash pair frame. found ⊆ truth by construction (identical "
    "shingling, identical similarity predicate), so recall = "
    "n_found/n_true exactly; the banding-theory target at s=0.5 "
    "with 4x3 bands is 1-(1-0.5^3)^4 ≈ 0.41 BEFORE the exact "
    "re-rank, and every emitted pair survives the rerank, so "
    "measured recall audits the real banding+cap loss. Scale: the "
    "share-any-shingle join is the O(df^2) exhaustive tier — at "
    "100 TB run it with truth_sample_fraction < 1 (the truth side "
    "only needs an unbiased estimate; see lsh_recall_frame); here "
    "the harness corpus is small enough for the census to be exact "
    "(fraction 1.0).",
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
    a number, not as a silent corpus quality loss.

    The truth tier runs EXACT by default; SPARK_GRAFT_LSH_TRUTH_FRACTION
    opts a run into the documented 100 TB sampling mode (the bench sets
    0.5 BEFORE importing the registry and marks it in its payload; the
    correctness driver never sets it, so its recorded row is always the
    exact census). The fraction is the import-time LSH_TRUTH_FRACTION
    snapshot — the same value baked into the generated oracle, so the
    two sides cannot diverge within a process. The emitted
    truth_fraction column makes the mode self-describing either way.
    """
    # A caller that mutates the env var AFTER this module was imported
    # would silently get the snapshot, not their value — make the
    # mismatch loud at query-build time (both sides still use the
    # snapshot, so engine and oracle stay consistent).
    live = _lsh_truth_fraction()
    if live != LSH_TRUTH_FRACTION:
        import warnings

        warnings.warn(
            "SPARK_GRAFT_LSH_TRUTH_FRACTION changed after the plans "
            f"module was imported (env now {live}, snapshot "
            f"{LSH_TRUTH_FRACTION}); q_lsh_recall uses the IMPORT-TIME "
            "snapshot so the engine and its generated oracle cannot "
            "diverge — set the env var before importing "
            "prueba_tecnica_analista_etl_spark.plans (bench.py does).",
            stacklevel=2,
        )
    return lsh_recall_frame(
        spark, sf_dir, truth_sample_fraction=LSH_TRUTH_FRACTION
    )


def lsh_recall_frame(
    spark: SparkSession,
    sf_dir: str,
    truth_sample_fraction: float = 1.0,
) -> DataFrame:
    """The q_lsh_recall census with the 100 TB sampling knob as CODE.

    The exhaustive-truth tier is O(df²) in documents-per-shingle — at
    100 TB a full census is a scale-killer, so the mitigation is a
    parameter, not prose. ``truth_sample_fraction < 1`` restricts the
    TRUTH side to a deterministic document sample BEFORE shingling: a
    doc is kept iff the md5 hex prefix of ``'lsh-truth:' || doc_id`` is
    below the fraction's threshold (the q_mixture_sample convention —
    fixed-width lowercase hex compares lexicographically == numerically,
    so membership is engine-stable and reproducible; the salt
    decorrelates the draw from the mixture sampler's).

    Unbiasedness: uniform doc sampling keeps each true pair with
    probability fraction², independently of whether the banded tier
    found it (found-status is a fixed property of the pair), so the
    recall of sampled-true pairs is an unbiased estimate of overall
    recall. n_true/n_found/n_missed are the SAMPLED counts (scale by
    1/fraction² for population estimates); the emitted
    truth_fraction column marks which mode produced the row. The
    found side stays the full memoized pair frame — the truth-side
    left join restricts it to sampled pairs for free.
    """
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )
    from prueba_tecnica_analista_etl_spark.pipelines.corpus import (
        cached_minhash_pairs,
    )
    from prueba_tecnica_analista_etl_spark.plans.extensions_pipeline import (
        _hex_threshold,
        pair_combos,
    )

    def _truth() -> DataFrame:
        d = doc_shingle_frame(spark, sf_dir).select("doc_id", "hs")
        if truth_sample_fraction < 1.0:
            u = F.substring(
                F.md5(
                    F.concat(
                        F.lit("lsh-truth:"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            )
            d = d.filter(u < F.lit(_hex_threshold(truth_sample_fraction)))
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

    # The exhaustive truth is an ARTIFACT of (corpus, fraction) — the
    # audit's O(df²) side is paid once per corpus, not once per run or
    # process. The frame persisted is O(true pairs).
    truth = corpus_artifact(
        spark, sf_dir, f"lsh_truth:{truth_sample_fraction}", _truth
    )
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
            F.lit(float(truth_sample_fraction)).alias("truth_fraction"),
        )
    )


@query(
    "q_ann_recall",
    None,
    doc="ANN quality audit SWEEP: recall@10 of both approximate tiers "
    "across three operating points each (sign-LSH 128-bit hamming "
    "radius 53/55/57 over one shared candidate frame; IVF nprobe "
    "2/4/8 read from the ON-DISK partitionBy(cluster) index, so the "
    "audit covers the real shipped artifact and its scan is "
    "partition-pruned to the union of the probe sets) against the "
    "exact brute-force cosine top-10 for the same probe — the "
    "retrieval-vs-cost trade emitted as a TABLE (one row per tier x "
    "point, shipped points marked, n_candidates = the point's scan "
    "cost), not a constant. All rankings use the identical (4-place "
    "cosine DESC, vec_id ASC) total order, so intersections are "
    "well-defined; the audit is joins of top-10 frames plus "
    "census-sized aggregates — entirely in-plan, no driver collect "
    "beyond the centroid sidecar the index owns.",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 census for the approximate similarity tiers.

    An IVF index with too few probes or an over-tight hamming radius
    silently degrades retrieval; this census turns that degradation
    into numbers per method (method, n_exact, n_hit, recall,
    n_candidates) the way q_lsh_recall does for the dedup tier.
    Ground truth is the exact brute-force top-10 (q_similarity_topk's
    frame); hits are inner joins on vec_id. The probe-side cost is
    three top-10 frames — at scale each is TakeOrderedAndProject over
    its (pruned) scan, and the audit adds joins of 10-row frames.

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
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    # The ENTIRE census (6 rows) is corpus-deterministic — seeded
    # planes, fixed probe, fixed operating points — so it is staged
    # whole: with only the intermediate frames staged, a fresh process
    # still paid ~3.5 s of sweep-frame construction and census
    # codegen; staging the final frame leaves one artifact read +
    # checkpoint over the floor.
    # The LIVE construction below stays plan-pinned by tests via
    # ann_sweep_parts/ann_recall_census_live, and first-per-corpus
    # builds execute it for real.
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


def ann_recall_census_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LIVE recall-census construction q_ann_recall stages per corpus
    (keeps ``ord`` so the staged frame re-sorts deterministically
    after a parquet round-trip)."""
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )
    from prueba_tecnica_analista_etl_spark.plans.extensions_text import (
        q_similarity_topk,
    )

    # The exact truth is an ARTIFACT of the corpus (10 rows) — computed
    # once and reused across audit runs, the cached_minhash_pairs
    # discipline. The registry's own q_similarity_topk keeps its live
    # plan; only the audit's repeated consumption is memoized.
    exact = corpus_artifact(
        spark,
        sf_dir,
        "ann_exact_top10",
        lambda: q_similarity_topk(spark, sf_dir).select("vec_id"),
    )

    tiers, top_live = ann_sweep_parts(spark, sf_dir)
    # The per-point top-10 frame (|tiers|·10 rows) is staged too: the
    # six-tier exploded-union window is the biggest codegen unit in
    # the registry, and the invariants tests re-derive the census from
    # this intermediate without re-running the scans.
    top = corpus_artifact(
        spark,
        sf_dir,
        "ann_recall_top10:"
        + "|".join(f"{m}:{pt}" for m, pt, _ in tiers),
        lambda: top_live,
    )
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
    q_ann_recall stages it per corpus through the artifact store;
    tests plan-pin THIS frame directly for the properties the staging
    would otherwise hide (the IVF tier's cluster predicate is a
    PARTITION filter over the on-disk index — the audited read path
    IS the 100 TB read path)."""
    import numpy as np
    from pyspark.sql import Window

    from prueba_tecnica_analista_etl_spark.artifacts import (
        census_artifact,
        corpus_artifact,
    )
    from prueba_tecnica_analista_etl_spark.operators.ivf_index import (
        _read_data,
        ivf_probe_clusters,
    )

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

    e = spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    planes = random_hyperplanes(LSH_BITS, 64, seed=42)
    sigs = e.withColumn(
        "sig", sign_words(F.col("v"), planes, LSH_WORD_BITS)
    )

    # The probe (vector + signature words) is census-sized and
    # deterministic per corpus — memoize it: the one-row first() still
    # costs a full Arrow-UDF job dispatch (~1 s) every audit run
    # otherwise. Label carries the signature config so a signature
    # retune can't read a stale cached probe.
    def _probe() -> "tuple[list[float], list[int]]":
        row = sigs.filter(F.col("vec_id") == 0).select("v", "sig").first()
        return [float(x) for x in row["v"]], [int(w) for w in row["sig"]]

    qv_list, qsig = census_artifact(
        spark, sf_dir, f"ann_probe_vec0:{LSH_BITS}", _probe
    )
    qv = np.asarray(qv_list, dtype=np.float64)
    qlit = F.array(*[F.lit(float(x)) for x in qv])

    # Row-level prefilter on the WIDEST radius BEFORE the cosine: only
    # rows inside some operating point can ever rank, and the hamming
    # test is integer bit arithmetic on the already-computed signature
    # while the cosine is the dim-length dot product — at 100 TB this
    # is the difference between a full matmul scan and a candidate-
    # sized one (the exact-truth tier pays its full scan ONCE, as the
    # memoized artifact above). The scored candidate frame itself is
    # an ARTIFACT of (corpus, widest radius) — deterministic given the
    # seeded planes and the fixed probe — so the signature scan too is
    # paid once per corpus, not once per process; the persisted
    # frame is O(candidates at the widest radius).
    def _lsh_scored() -> DataFrame:
        ham = sum(
            F.bit_count(
                F.col("sig")[w].bitwiseXOR(F.lit(int(qsig[w])))
            ).cast("long")
            for w in range(LSH_WORDS)
        )
        return (
            sigs.filter(F.col("vec_id") != 0)
            .select("vec_id", "v", ham.alias("ham"))
            .filter(F.col("ham") <= max(lsh_radii))
            .select(
                "vec_id",
                F.round(cosine(F.col("v"), qlit), 4).alias("cos_sim"),
                "ham",
            )
        )

    lsh_scored = corpus_artifact(
        spark,
        sf_dir,
        f"ann_lsh_scored:{LSH_BITS}x{max(lsh_radii)}",
        _lsh_scored,
    )

    # The IVF tier audits the SHIPPED artifact: the partitionBy(cluster)
    # on-disk index (operators/ivf_index.py), probed via the staged
    # quantizer (ivf_centroids — the SAME model the index's sidecar
    # stores, so probing via the census-cached copy instead of
    # re-reading the sidecar parquet saves a driver read without
    # changing a single cluster id) — the cluster predicate is a
    # PARTITION filter (directory pruning), so the audited read path
    # IS the 100 TB read path.
    index_path = cached_ivf_index(spark, sf_dir, k=IVF_K, iters=2)
    probe_order = ivf_probe_clusters(
        ivf_centroids(spark, sf_dir, e, k=IVF_K, iters=2),
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
    pq = np.floor(
        qv * (127.0 / max(np.abs(qv).max(), 1e-12)) + 0.5
    ).astype(np.int64)
    pq_lit = F.array(*[F.lit(int(x)) for x in pq])
    maxabs = F.array_max(F.transform(F.col("v"), F.abs))
    sc = F.lit(127.0) / F.greatest(maxabs, F.lit(1e-12))
    qcol = F.transform(F.col("v"), lambda x: F.floor(x * sc + F.lit(0.5)))

    def _idot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    quant_cos = _idot(qcol, pq_lit).cast("double") / (
        F.sqrt(_idot(qcol, qcol).cast("double"))
        * F.sqrt(_idot(pq_lit, pq_lit).cast("double"))
    )
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
    doc="extension (cross-source duplication matrix): which "
    "ingest sources copy which — per unordered source pair, the "
    "near-dup pair count and the integer-rescaled similarity mass "
    "(sum of round(jaccard,4)*10000, exact 64-bit sums) over the "
    "banded-minhash pair frame. THE census a curation owner reads "
    "before deciding source priorities (q_source_priority_dedup's "
    "upstream evidence): a hot off-diagonal cell means two feeds "
    "mirror each other and one should be demoted. Scale: reuses the "
    "memoized pair frame (cached_minhash_pairs — built once per "
    "corpus from the shared doc_shingle_frame artifact), joins the "
    "census-sized pair set to a two-column (doc_id, source) "
    "projection, and the output is |sources|^2-bounded.",
)
def q_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.pipelines.corpus import (
        cached_minhash_pairs,
    )

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
    """(vec_id, q) — per-vector symmetric int8 quantization of the
    embeddings table (q_embed_quantize's grid: floor(x·127/maxabs +
    0.5), exact BIGINT components). Map-only; not worth staging."""
    e = spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    maxabs = F.array_max(F.transform(F.col("v"), F.abs))
    sc = F.lit(127.0) / F.greatest(maxabs, F.lit(1e-12))
    return e.select(
        "vec_id",
        F.transform(
            F.col("v"), lambda x: F.floor(x * sc + F.lit(0.5))
        ).alias("q"),
    )


def _iq_cos(a, b):
    """Quantized cosine: exact int64 dots cast to double, one sqrt and
    one divide per side — the single-IEEE-op determinism class, so
    Spark and the SQL oracle produce bit-identical doubles."""

    def idot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, r: p * r),
            F.lit(0).cast("long"),
            lambda acc, p: acc + p,
        )

    return idot(a, b).cast("double") / (
        F.sqrt(idot(a, a).cast("double"))
        * F.sqrt(idot(b, b).cast("double"))
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
    from pyspark.sql import Window

    from prueba_tecnica_analista_etl_spark.artifacts import (
        census_artifact,
        corpus_artifact,
    )

    def build() -> DataFrame:
        quant = _int8_quantized(spark, sf_dir)
        # Model-sized collect (the ivf_centroids discipline): k int8
        # vectors, staged as a pickled census so a fresh process
        # reloads instead of re-scanning.
        seed_rows = census_artifact(
            spark,
            sf_dir,
            f"semdedup_seeds:k{SEMDEDUP_K}",
            lambda: [
                (i, r["q"])
                for i, r in enumerate(
                    quant.orderBy("vec_id").limit(SEMDEDUP_K).collect()
                )
            ],
        )
        seeds = spark.createDataFrame(
            seed_rows, "cid int, sq array<long>"
        )
        scored = quant.crossJoin(F.broadcast(seeds)).select(
            "vec_id",
            "cid",
            "q",
            _iq_cos(F.col("q"), F.col("sq")).alias("cosq"),
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
            _iq_cos(F.col("p.pa"), F.col("p.pb")).alias("cosq"),
        )
        .filter(F.col("cosq") >= F.lit(SEMDEDUP_T))
        .select("cid", "vec_a", "vec_b")
    )


def semdedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seed-medoid assignment's pair frame, staged once per
    corpus (:func:`semdedup_pairs_for` over :func:`semdedup_assign`)."""
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

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
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )
    from prueba_tecnica_analista_etl_spark.operators.components import (
        connected_components,
    )

    return corpus_artifact(
        spark,
        sf_dir,
        f"semdedup_labels:{_SEMDEDUP_TAG}",
        lambda: connected_components(
            semdedup_pairs(spark, sf_dir), a="vec_a", b="vec_b"
        ),
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
    doc="extension (semantic dedup — the SemDeDup "
    "composition from public pretraining-pipeline literature): "
    "cluster the embedding space coarsely, purge near-identical "
    "points WITHIN each cluster, keep one representative per "
    "semantic-duplicate family. Engine shape: int8-quantize every "
    "vector (q_embed_quantize's exact integer grid), assign to the "
    "nearest of SEMDEDUP_K seed medoids by quantized cosine (the "
    "engine-neutral stand-in for the float k-means quantizer — "
    "swappable for ivf_centroids at 100 TB, where this census "
    "becomes rows-only like q_ann_ivf), generate intra-cluster "
    "candidate pairs only (groupBy(cid) + capped_pair_array skew "
    "chunks — never all-pairs, never cross-cluster), connected "
    "components over pairs at cosq ≥ SEMDEDUP_T, purge everything "
    "but each family's min-id representative. Output: per-cluster "
    "purge census (cluster, n_vecs, n_dup_pairs, n_purged, n_kept) "
    "— all-integer, no float parity risk. Every stage is staged per "
    "corpus (assign / pairs / labels artifacts, operating point in "
    "the keys) and the whole tier is value-exact vs a recursive-CTE "
    "DuckDB oracle. Eager note: first build runs the CC fixpoint "
    "(cluster_labels discipline); steady state reads three "
    "census-sized artifacts.",
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semdedup_census_for(
        semdedup_assign(spark, sf_dir).select("vec_id", "cid"),
        semdedup_pairs(spark, sf_dir),
        semdedup_labels(spark, sf_dir),
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
    from prueba_tecnica_analista_etl_spark.operators.components import (
        connected_components,
    )

    pairs = semdedup_pairs_for(assigned).localCheckpoint()
    labels = connected_components(pairs, a="vec_a", b="vec_b")
    return semdedup_census_for(
        assigned.select("vec_id", "cid"), pairs, labels
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
    doc="extension (embedding QA census): per-dimension moment "
    "census over the embeddings table — n, min/max, mean, variance "
    "on the floor(x·1e6+0.5) integer grid with DECIMAL(38,0)/HUGEINT "
    "accumulation (exact in any summation order, so the census is "
    "bit-identical across engines AND across cluster sizes — the "
    "property a drift monitor needs). This is the table a vector "
    "pipeline watches per ingest batch: a dimension whose variance "
    "collapses went dead (projection/init bug), one whose mean walks "
    "flags normalization drift upstream of every ANN/semdedup tier. "
    "Scale shape: one posexplode (map-only) + one 64-group hash "
    "aggregate — partial aggregation collapses each partition to "
    "64 rows before the shuffle, so network cost is O(dims x "
    "partitions), never O(rows).",
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
