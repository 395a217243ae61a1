"""Oracle-checked training-data PIPELINE operators — the steps between
a cleaned corpus and a training run: fixed-size chunking, sequence
packing, benchmark-contamination screening, and Gopher-style repetition
filtering. All four are native-expression plans (no UDFs) proven
against DuckDB SQL oracles, extending the text/similarity families in
``extensions_text.py`` / ``extensions_scale.py``.

Reference scope note: the reference (Prueba-Tecnica-Analista-ETL) stops
at cleaning/dedup/verification; these operators are the declared
beyond-reference extensions for LLM data pipelines (SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.functions.text import shingles
from prueba_tecnica_analista_etl_spark.functions.vectors import as_double
from prueba_tecnica_analista_etl_spark.plans.queries import _t, query
from prueba_tecnica_analista_etl_spark.sources.tables import spread

# Chunking / packing constants — chosen so the harness corpus (~30-100
# tokens/doc) produces multi-chunk docs and multi-doc bins. 512 is a
# power of two so every ``tokens/512`` double division below is EXACT
# in binary (cross-engine hash-safe without decimal gymnastics).
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks
CTX_TOKENS = 512

# Contamination screen: ≥1 shared benchmark gram marks a doc as touched
# (raw count, kept for trend monitoring), but the DECONTAMINATION
# decision uses a threshold — single-gram overlap is mostly generic
# phrases. CONTAM_MIN_HITS distinct shared grams flags a doc for drop.
CONTAM_MIN_HITS = 3
# Every BENCH_MOD-th doc (by id) stands in for the held-out evaluation
# benchmark. The oracle SQL spells it out as ``% 50``.
BENCH_MOD = 50


def pack_bins(docs: DataFrame) -> DataFrame:
    """Greedy sequential pack plan over (source, doc_id, n_tok): per
    source, docs fill CTX_TOKENS-sized bins in doc_id order, and a doc
    belongs to the bin where its first token lands. Returns (source,
    bin, docs, tokens). The running sum is windowed per source, so no
    global-order single-partition window exists at any scale."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = docs.select(
        "source",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / CTX_TOKENS)
        .cast("long")
        .alias("bin"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_tok").cast("long").alias("tokens"),
    )


def benchmark_grams(doc_grams: DataFrame) -> DataFrame:
    """The held-out benchmark's distinct gram vocabulary (one ``gram``
    column) from a (doc_id, grams array) frame."""
    return (
        doc_grams.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )


def contamination_hits(grams: DataFrame, bench: DataFrame) -> DataFrame:
    """(doc_id, n_hits): per training doc (every doc outside the
    holdout), the number of distinct benchmark grams among its
    (doc_id, gram) rows. The benchmark vocabulary is small by
    construction, so it is broadcast and the probe is a map-side
    left-semi join: the corpus gram stream is never shuffled, only the
    matched grams reach the per-doc distinct count."""
    return (
        grams.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hits"))
    )


@query(
    "q_doc_chunk",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
         s AS (SELECT doc_id, toks,
                      unnest(generate_series(1, len(toks),
                                             {CHUNK_STRIDE})) AS start
               FROM t)
    SELECT doc_id, CAST(start AS BIGINT) AS start,
           CAST(len(list_slice(toks, start, start + {CHUNK_TOKENS - 1}))
                AS BIGINT) AS chunk_toks,
           md5(array_to_string(
               list_slice(toks, start, start + {CHUNK_TOKENS - 1}), ' '))
             AS chunk_md5
    FROM s
    """,
    doc="extension (document chunking): split each doc into "
    f"{CHUNK_TOKENS}-token chunks every {CHUNK_STRIDE} tokens "
    "(8-token overlap) — the context-window prep step before "
    "embedding or training. sequence(1, nt, stride) + slice is pure "
    "per-row codegen: ZERO shuffle, and the md5 of each chunk's text "
    "makes the oracle value-verify the actual chunk content, not just "
    "counts. At 100 TB this is map-only — fan-out ≈ nt/stride rows "
    "per doc, no skew (chunk count is bounded by doc length, and "
    "huge docs split across many output rows, not many tasks).",
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(_t(spark, sf_dir, "documents"))
    base = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    starts = F.sequence(
        F.lit(1), F.size(F.col("toks")), F.lit(CHUNK_STRIDE)
    )
    rows = base.select(
        "doc_id", "toks", F.explode(starts).alias("start")
    )
    chunk = F.slice(F.col("toks"), F.col("start"), CHUNK_TOKENS)
    return rows.select(
        "doc_id",
        F.col("start").cast("long").alias("start"),
        F.size(chunk).cast("long").alias("chunk_toks"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


@query(
    "q_pack_sequences",
    f"""
    WITH t AS (SELECT source, doc_id,
                      len(string_split(text, ' ')) AS nt
               FROM documents),
         c AS (SELECT source, nt,
                      sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
               FROM t),
         b AS (SELECT source, nt,
                      CAST(floor((cum - nt) / {CTX_TOKENS}.0) AS BIGINT)
                        AS bin
               FROM c)
    SELECT source, bin, count(*) AS docs,
           CAST(sum(nt) AS BIGINT) AS tokens,
           CAST(floor(sum(nt) * 100 / {CTX_TOKENS}.0) AS BIGINT)
             AS fill_pct
    FROM b GROUP BY source, bin
    """,
    doc="extension (sequence packing): concatenate each source shard's "
    f"docs in doc_id order and cut {CTX_TOKENS}-token training bins — "
    "a doc belongs to the bin where its first token lands "
    "(offset-based packing, the standard pretraining concat-and-split "
    "shape). The running sum is windowed PER SOURCE, so at 100 TB "
    "there is no global-order single-partition window — each shard "
    "packs independently, which is exactly how a distributed packer "
    "shards the corpus. fill_pct > 100 marks bins whose last doc "
    "straddles the boundary. All divisions are by a power of two — "
    "exact in binary, hash-stable across engines.",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    nt = F.size(F.split(F.col("text"), " ")).cast("long")
    bins = pack_bins(d.select("source", "doc_id", nt.alias("n_tok")))
    return bins.withColumn(
        "fill_pct", F.floor(F.col("tokens") * 100 / CTX_TOKENS).cast("long")
    )


def doc_grams4_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 4-token shingle stream over ``documents`` — (doc_id,
    source, grams array, n_grams), staged ONCE per corpus (r13): the
    contamination screen and the decontamination filter both explode
    this artifact instead of each re-running tokenize+shingle over
    the corpus. Arrays keep duplicates (the consumers' distinct
    semantics differ and are applied downstream). Storage trade at
    100 TB: grams materialize ~4x the text bytes, paid once and
    column-pruned on read; both consumers' remaining cost is their
    own gram-keyed aggregation, which the artifact cannot remove."""
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    def build() -> DataFrame:
        d = _t(spark, sf_dir, "documents")
        toks = F.split(F.col("text"), " ")
        return spread(d).select(
            "doc_id",
            "source",
            shingles(toks, 4).alias("grams"),
            F.greatest(F.size(toks) - 3, F.lit(1))
            .cast("long")
            .alias("n_grams"),
        )

    return corpus_artifact(spark, sf_dir, "doc_grams4", build)


def bench_grams4_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The held-out benchmark's DISTINCT 4-gram vocabulary
    (:func:`benchmark_grams` over the doc_grams4 artifact), staged once
    per corpus: both contamination queries (the census and the
    decontamination filter) probe this same set, and rebuilding it per
    query re-ran explode+distinct over the benchmark docs each time
    (~0.43 s/call at sf0.1). ``pretrain_run`` builds the same set
    lazily inside its own DAG instead, so a run on an empty store does
    not stage the gram artifacts. In a real pipeline the benchmark
    gram set IS a staged artifact, rebuilt when the eval set changes —
    here the corpus fingerprint in the artifact key plays that role.
    The holdout modulus is part of the key so a re-cut can never serve
    a stale vocabulary."""
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    return corpus_artifact(
        spark,
        sf_dir,
        f"bench_grams4:m{BENCH_MOD}",
        lambda: benchmark_grams(doc_grams4_frame(spark, sf_dir)),
    )


@query(
    "q_contamination",
    f"""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
               FROM documents),
         s AS (SELECT doc_id, source,
                      unnest(generate_series(1, greatest(len(toks) - 3,
                                                         1))) AS i,
                      toks
               FROM t),
         g AS (SELECT doc_id, source,
                      array_to_string(list_slice(toks, i, i + 3), ' ')
                        AS gram
               FROM s),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
         hits AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
                  FROM g JOIN bench USING (gram)
                  WHERE g.doc_id % 50 <> 0 GROUP BY g.doc_id),
         n AS (SELECT doc_id,
                      greatest(len(toks) - 3, 1) AS n_grams FROM t)
    SELECT d.source, count(*) AS docs,
           CAST(sum(CASE WHEN h.n_hits IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS contaminated_docs,
           CAST(sum(CASE WHEN h.n_hits >= {CONTAM_MIN_HITS}
                    THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
           CAST(coalesce(sum(h.n_hits), 0) AS BIGINT) AS overlap_grams,
           coalesce(max(CAST(h.n_hits AS DOUBLE) / n.n_grams), 0.0)
             AS max_overlap_frac
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
                     JOIN n ON d.doc_id = n.doc_id
    WHERE d.doc_id % 50 <> 0
    GROUP BY d.source
    """,
    doc="extension (benchmark contamination): screen the training "
    "corpus for 4-gram overlap with a held-out evaluation set (here "
    "every 50th doc stands in for the benchmark) — the decontamination "
    "step every serious pretraining pipeline runs. The benchmark's "
    "distinct-gram set is SMALL by construction, so Spark broadcasts "
    "it and the overlap probe is a map-side semi-join: at 100 TB the "
    "full corpus gram stream is never shuffled — only the MATCHED "
    "grams (a tiny fraction) shuffle into the per-doc distinct count, "
    "and the hit frame re-broadcasts for the final census join. "
    "Per-doc distinct-hit counts make the oracle value-verify "
    "overlap volume, not just the contaminated-doc flag.",
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    g4 = doc_grams4_frame(spark, sf_dir)
    hits = contamination_hits(
        g4.select("doc_id", F.explode("grams").alias("gram")),
        bench_grams4_frame(spark, sf_dir),
    )
    # Per-doc gram-count denominator rides the artifact (array
    # length at build time), NOT a distinct over the gram stream —
    # the overlap fraction costs nothing extra at 100 TB.
    corpus = g4.filter(F.col("doc_id") % BENCH_MOD != 0).select(
        "doc_id", "source", "n_grams"
    )
    return (
        corpus.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.col("n_hits").isNotNull().cast("long")).alias(
                "contaminated_docs"
            ),
            F.sum(
                F.when(
                    F.col("n_hits") >= CONTAM_MIN_HITS, F.lit(1)
                ).otherwise(F.lit(0))
            ).cast("long").alias("flagged_docs"),
            F.coalesce(F.sum("n_hits"), F.lit(0)).cast("long").alias(
                "overlap_grams"
            ),
            F.coalesce(
                F.max(
                    F.col("n_hits").cast("double") / F.col("n_grams")
                ),
                F.lit(0.0),
            ).alias("max_overlap_frac"),
        )
    )


@query(
    "q_repetition",
    """
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
               FROM documents),
         g AS (SELECT doc_id, source,
                      greatest(len(toks) - 1, 1) AS n_grams,
                      unnest(generate_series(1, greatest(len(toks) - 1,
                                                         1))) AS i,
                      toks
               FROM t),
         c AS (SELECT doc_id, source, n_grams,
                      array_to_string(list_slice(toks, i, i + 1), ' ')
                        AS gram
               FROM g),
         pc AS (SELECT doc_id, source, n_grams, gram, count(*) AS cnt
                FROM c GROUP BY doc_id, source, n_grams, gram),
         pd AS (SELECT doc_id, source, max(n_grams) AS n_grams,
                       max(cnt) AS top_c
                FROM pc GROUP BY doc_id, source)
    SELECT source, count(*) AS docs,
           CAST(sum(CASE WHEN top_c * 10 >= n_grams THEN 1 ELSE 0 END)
                AS BIGINT) AS repetitive_docs,
           round(avg(top_c), 2) AS avg_top_gram
    FROM pd GROUP BY source
    """,
    doc="extension (repetition filter, Gopher §A.1.1 shape): per doc, "
    "the occurrence count of its most frequent 2-gram; docs where that "
    "top 2-gram covers ≥10% of all 2-grams are flagged repetitive "
    "(duplicate-LINE fraction is n/a — harness docs are single-line). "
    "The Spark plan computes the per-doc mode WITHOUT any shuffle: "
    "array_sort the 2-gram array, then one aggregate() fold tracks the "
    "longest equal-run — per-row codegen, map-only until the tiny "
    "source census. The oracle does it the relational way (explode + "
    "GROUP BY doc,gram + max) and must shuffle every gram; same "
    "answer, verified exactly. At 100 TB the fold path scans the "
    "corpus once with zero gram-level shuffle.",
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(_t(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    grams = F.array_sort(shingles(toks, 2))
    # Longest equal-run fold over the sorted gram array == count of the
    # most frequent 2-gram. acc = (prev gram, current run, best run).
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = (
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_c = F.aggregate(grams, zero, step, lambda acc: acc["best"])
    n_grams = F.greatest(
        F.size(toks) - 1, F.lit(1)
    ).cast("long")
    per_doc = d.select(
        "source",
        n_grams.alias("n_grams"),
        top_c.cast("long").alias("top_c"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(
            (F.col("top_c") * 10 >= F.col("n_grams")).cast("long")
        ).alias("repetitive_docs"),
        F.round(F.avg("top_c"), 2).alias("avg_top_gram"),
    )


@query(
    "q_embed_centroids",
    """
    WITH t AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
         s AS (SELECT label, v,
                      unnest(generate_series(1, len(v))) AS i
               FROM t)
    SELECT label, CAST(i - 1 AS BIGINT) AS pos,
           round(avg(v[i]), 4) + 0.0 AS centroid_val,
           count(*) AS n_vecs
    FROM s GROUP BY label, i
    """,
    doc="extension (grouped vector aggregation): per-label embedding "
    "centroids, one scalar row per (label, dimension) — the class-"
    "prototype / cluster-update primitive behind IVF training, "
    "semantic dedup thresholds and label-drift monitoring. "
    "posexplode fans each vector into dim rows MAP-SIDE, and "
    "Tungsten's partial aggregation collapses them to labels×dim "
    "partial sums per task before the shuffle — at 100 TB the "
    "exchange carries O(tasks × labels × dim) rows, not O(vectors × "
    "dim). round(4) absorbs partial-agg summation-order noise "
    "(~1e-13 relative), far from any rounding boundary for N(0,1) "
    "data.",
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread() (r14): the per-row work is one posexplode + partial
    # avg — map-side-reducing from the first operator, so the
    # unconditional round-robin repartition moved every vector across
    # the wire to parallelize ~nothing (A/B at sf0.1: 0.66 -> 0.23 s;
    # at scale the scan's own splits give the width).
    e = _t(spark, sf_dir, "embeddings")
    x = e.select(
        "label",
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "val"),
    )
    return x.groupBy(
        "label", F.col("pos").cast("long").alias("pos")
    ).agg(
        # ``+ 0.0`` normalizes IEEE negative zero: DuckDB rounds a tiny
        # negative mean to -0.0 ("-0"), Spark to 0.0 ("0") — same
        # value, different hash. Applied identically in the oracle.
        (F.round(F.avg("val"), 4) + F.lit(0.0)).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


@query(
    "q_zscore_outliers",
    """
    WITH s AS (SELECT event_type, value,
                      avg(value) OVER (PARTITION BY event_type) AS mu,
                      stddev_samp(value) OVER (PARTITION BY event_type)
                        AS sigma
               FROM events)
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN abs((value - mu) / sigma) > 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS outliers,
           round(min(mu), 2) AS mu, round(min(sigma), 2) AS sigma
    FROM s GROUP BY event_type
    """,
    doc="extension (grouped anomaly flagging): per-event-type z-score "
    "with |z| > 3 outlier census — the data-quality screen between "
    "ingestion and training. One unbounded window per group computes "
    "mu/sigma without a self-join; the final census collapses to "
    "|event_type| rows. At 100 TB the window shuffle is keyed on "
    "event_type — if one type dominates, pre-aggregate (count, sum, "
    "sum of squares) per type instead (associative moments), which "
    "this plan's groupBy twin would do; here the window form also "
    "exercises W-family coverage on a non-cumulative frame.",
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    s = d.select(
        "event_type",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(
            F.sum((F.abs(z) > 3).cast("long")), F.lit(0)
        ).cast("long").alias("outliers"),
        F.round(F.min("mu"), 2).alias("mu"),
        F.round(F.min("sigma"), 2).alias("sigma"),
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


@query(
    "q_source_overlap",
    """
    WITH t AS (SELECT source, string_split(lower(text), ' ') AS toks
               FROM documents),
         s AS (SELECT source, toks,
                      unnest(generate_series(1, greatest(len(toks) - 7,
                                                         1))) AS i
               FROM t),
         fp AS (SELECT DISTINCT source,
                       md5(array_to_string(list_slice(toks, i, i + 7),
                                           ' ')) AS fp
                FROM s),
         sz AS (SELECT source, count(*) AS n FROM fp GROUP BY source)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(min(sa.n) AS BIGINT) AS n_a,
           CAST(min(sb.n) AS BIGINT) AS n_b,
           count(*) AS shared
    FROM fp a
    JOIN fp b ON a.fp = b.fp AND a.source < b.source
    JOIN sz sa ON sa.source = a.source
    JOIN sz sb ON sb.source = b.source
    GROUP BY a.source, b.source
    """,
    doc="extension (cross-source overlap census): which datasets "
    "duplicate each other's CONTENT — the standard pre-mixing "
    "analysis before weighting corpus sources (two crawls of the "
    "same site, a dataset re-released inside another, boilerplate "
    "shared between collections). Doc-level md5 identity is too "
    "blunt (this corpus has zero cross-source full-doc dupes at "
    "sf0.01 yet thousands of shared passages), so the unit is the "
    "8-token shingle: each source collapses to its distinct set of "
    "md5 shingle fingerprints; a self-equi-join on fingerprint with "
    "src_a < src_b counts shared shingles per source pair alongside "
    "each source's distinct-shingle size (Jaccard's numerator and "
    "denominator terms, derivable by the user). All-integer output — "
    "no float parity risk. Scale shape: the self-join shuffles on "
    "the 16-byte fingerprint key; per-fp fan-out is |sources "
    "containing fp| choose 2 — quadratic in SOURCES sharing a "
    "shingle (bounded: source count is a catalog property, never "
    "O(corpus)), linear in shingles; the size frames are "
    "O(|sources|) and broadcast. A shingle present in k sources "
    "contributes k(k-1)/2 pair rows pre-aggregation — universal "
    "boilerplate is the skew case; at 100 TB cap it by dropping "
    "fingerprints above a source-count ceiling (they carry no "
    "pair-discriminating signal), the LSH family's sub-split policy. "
    "Plan shape note: the naive self-equi-join evaluates the heavy "
    "explode+md5+distinct subtree four times (both join sides + two "
    "size joins; Spark's exchange reuse does not fire across the "
    "aliased sides). Instead ONE groupBy(fp) collects each "
    "fingerprint's sorted source set and the src_a<src_b "
    "combinations are generated inline from that array (k sources → "
    "k(k-1)/2 structs, pure codegen, ordering guaranteed by the "
    "sorted set); the per-source sizes ride a 1-row broadcast map "
    "(O(|sources|) entries — the unigram total-N pattern). The "
    "heavy subtree runs ONCE per corpus: the per-fp source-set "
    "frame is a checkpointed corpus artifact (the "
    "cached_minhash_pairs class — O(distinct shingles) rows), and "
    "pairs + sizes both read the checkpoint instead of re-deriving "
    "the explode+distinct chain per consumer.",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    def build() -> DataFrame:
        d = _t(spark, sf_dir, "documents")
        toks = F.split(F.lower(F.col("text")), " ")
        fp = (
            spread(d)
            .select(
                "source",
                F.explode(shingles(toks, 8)).alias("gram"),
            )
            .select("source", F.md5("gram").alias("fp"))
            .distinct()
        )
        # one row per fingerprint, sources sorted ascending
        return fp.groupBy("fp").agg(
            F.sort_array(F.collect_set("source")).alias("srcs")
        )

    g = corpus_artifact(spark, sf_dir, "source_overlap_fp_sources", build)
    combos = pair_combos(F.col("srcs"), "src_a", "src_b")
    pairs = (
        g.filter(F.size("srcs") >= 2)
        .select(F.explode(combos).alias("p"))
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # per-source distinct-shingle size = how many fp rows carry the
    # source — derived from the checkpointed g, not a second pass
    # over the corpus.
    sizes = (
        g.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("source", "n"))
            ).alias("m")
        )
    )
    return pairs.crossJoin(F.broadcast(sizes)).select(
        "src_a",
        "src_b",
        F.col("m")[F.col("src_a")].cast("long").alias("n_a"),
        F.col("m")[F.col("src_b")].cast("long").alias("n_b"),
        "shared",
    )


def _unigram_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log-probability frame: (doc_id, source,
    logprob). Shared by q_unigram_logprob (corpus census) and
    q_perplexity_buckets (CCNet-style head/middle/tail split) — and
    MEMOIZED as a per-corpus artifact (artifacts.corpus_artifact):
    one row per doc, the ideal staged-artifact shape, so the two
    consumers pay the tokenize/tf/vocab pipeline once per corpus, not
    once each (the cached_minhash_pairs pattern; building the first
    consumer's plan therefore runs Spark jobs eagerly). Staleness
    contract: a caller that REWRITES the corpus under the same sf_dir
    must call ``artifacts.clear_artifacts(spark,
    name="unigram_scored")`` (or clear the whole store) — otherwise
    both consumers keep serving the pre-rewrite scores for the
    session's lifetime, exactly like the pairs artifact."""
    from prueba_tecnica_analista_etl_spark.artifacts import corpus_artifact

    return corpus_artifact(
        spark,
        sf_dir,
        "unigram_scored",
        lambda: _unigram_scored_build(spark, sf_dir),
    )


# Exact-integer fixed-point logarithm (shared by the Spark build and
# the DuckDB oracle below).  ``nlp6(total, cnt)`` approximates
# ln(total/cnt)*1e6 (max observed error < 3 grid units) using ONLY
# 64-bit integer arithmetic, so every engine computes bit-identical
# values by construction — the r7 form quantized a RUNTIME ``ln`` onto
# the grid, and a 1-ulp libm disagreement at a grid boundary flipped
# q_perplexity_buckets' driver hash two rounds running (CORRECTNESS
# r06/r07).  Algorithm (the q_length_histogram binary-length trick
# generalized to fractional bits):
#
# 1. integer part  e = floor(log2(total/cnt)) = length(bin(total div
#    cnt)) - 1 (exact: total div cnt >= 2^b  iff  total/cnt >= 2^b);
# 2. normalize     y = (total * 2^P) div (cnt * 2^e)  in [2^P, 2^(P+1))
#    (cnt*2^e <= total < 2^63 so the denominator is a safe BIGINT; the
#    numerator rides DECIMAL(38,0)/HUGEINT per the verified
#    cross-engine div pattern);
# 3. K fractional bits by renormalizing squaring: y <- y^2 div 2^(P+1)
#    emitting bit 1 when y^2 >= 2^(2P+1), else y^2 div 2^P emitting 0.
#    With P=30, y^2 < 2^62 never leaves BIGINT;
# 4. scale log2 -> ln grid: nlp6 = (L*693147 + 2^(K-1)) div 2^K where
#    L = e*2^K + frac and 693147 = round(ln(2)*1e6).
_LOG_P = 30  # normalized-mantissa precision bits (y^2 < 2^62)
_LOG_K = 20  # fractional bits (2^-20 < the 1e-6 grid in log2 units)
_LN2_1E6 = 693147  # round(ln(2) * 1e6) — exact integer scale factor


def _nlp6_spark_expr() -> str:
    """Spark-SQL expression for nlp6 over columns (total, cnt) — one
    ``aggregate`` higher-order fold, so the K-step iteration is a
    single runtime loop, never K nested plan expressions."""
    P, K = _LOG_P, _LOG_K
    return f"""aggregate(
      sequence(1, {K}),
      named_struct(
        'y', CAST((CAST(total AS DECIMAL(38,0)) * {1 << P})
                  div shiftleft(cnt, length(bin(total div cnt)) - 1)
             AS BIGINT),
        'l', CAST(length(bin(total div cnt)) - 1 AS BIGINT)),
      (acc, i) -> IF(acc.y * acc.y >= {1 << (2 * P + 1)}L,
                     named_struct('y', (acc.y * acc.y) div {1 << (P + 1)}L,
                                  'l', acc.l * 2L + 1L),
                     named_struct('y', (acc.y * acc.y) div {1 << P}L,
                                  'l', acc.l * 2L)),
      acc -> (acc.l * {_LN2_1E6}L + {1 << (K - 1)}L) div {1 << K}L)"""


def _nlp6_duckdb_ctes(
    prefix: str = "v",
    src: str = "vocab CROSS JOIN n",
    keys: "tuple[str, ...]" = ("term",),
) -> "tuple[str, str]":
    """(cte_chain, final_cte_name) for the same nlp6 in DuckDB SQL:
    the K-step fold unrolled as generated chained CTEs over a frame
    with columns ``keys`` + (cnt, total) — default the corpus vocab
    (``vocab CROSS JOIN n``).  ``prefix`` namespaces the generated
    CTEs so two independent chains (e.g. corpus-level and per-source,
    q_source_divergence) can coexist in one WITH clause.  DuckDB
    ``//`` on BIGINT is floor division — identical to Spark's ``div``
    for the all-positive operands here."""
    P, K = _LOG_P, _LOG_K
    cols = ", ".join(keys)
    steps = [
        f"""{prefix}0 AS (SELECT {cols}, cnt, total,
          CAST((CAST(total AS HUGEINT) * {1 << P}) //
               (CAST(cnt AS HUGEINT)
                * (1::HUGEINT << (length(bin(total // cnt)) - 1)))
               AS BIGINT) AS y,
          CAST(length(bin(total // cnt)) - 1 AS BIGINT) AS l
          FROM {src})"""
    ]
    for i in range(1, K + 1):
        steps.append(
            f"""{prefix}{i} AS (SELECT {cols}, cnt, total,
          CASE WHEN (y*y) >= {1 << (2 * P + 1)}::BIGINT
               THEN (y*y) // {1 << (P + 1)}::BIGINT
               ELSE (y*y) // {1 << P}::BIGINT END AS y,
          CASE WHEN (y*y) >= {1 << (2 * P + 1)}::BIGINT
               THEN l*2 + 1 ELSE l*2 END AS l
          FROM {prefix}{i - 1})"""
        )
    steps.append(
        f"""{prefix}term AS (SELECT {cols}, cnt, total,
          (l * {_LN2_1E6} + {1 << (K - 1)}) // {1 << K}::BIGINT AS nlp6
          FROM {prefix}{K})"""
    )
    return ",\n         ".join(steps), f"{prefix}term"


def _unigram_scored_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One explode+groupBy collapses the token stream to (doc, term,
    tf); the vocab census and the scoring join both run on THAT frame
    — O(doc-term pairs), not O(tokens), crosses the term shuffle.

    Two score representations ride the same aggregation:

    * ``logprob`` (double) — the float weighted mean, for census-style
      consumers that round only REPORTED columns (q_unigram_logprob);
    * ``nlp_num``/``tf_sum`` (bigint) — the exact-integer form for
      consumers whose score feeds a sort/group KEY.  Each term's
      -ln(p) is the fixed-point integer logarithm ``nlp6`` (see
      _LOG_P above): ZERO runtime transcendentals anywhere in the key
      path — the r7 form's single quantized ``ln`` still flipped the
      driver hash when the JVM's and DuckDB's libm disagreed by 1 ulp
      at a 1e-6 grid boundary.  ``sum(tf * nlp6)`` and ``sum(tf)``
      stay 64-bit integer arithmetic: identical in every engine
      regardless of accumulation order.  nlp6 is computed once per
      DISTINCT TERM on the vocab frame (O(|vocab|) folds), not per
      doc-term row.
    """
    from prueba_tecnica_analista_etl_spark.plans.extensions_text import (
        doc_term_tf_frame,
    )

    tf = doc_term_tf_frame(spark, sf_dir)
    vocab = tf.groupBy("term").agg(
        F.sum("tf").cast("long").alias("cnt")
    )
    n = tf.agg(F.sum("tf").cast("long").alias("total"))
    vterm = (
        vocab.crossJoin(F.broadcast(n))
        .withColumn("nlp6", F.expr(_nlp6_spark_expr()))
    )
    return (
        tf.join(vterm, "term")
        .groupBy("doc_id", "source")
        .agg(
            (
                F.sum(
                    F.col("tf")
                    * F.log(F.col("cnt") / (F.col("total") * 1.0))
                )
                / F.sum("tf")
            ).alias("logprob"),
            F.sum(F.col("tf") * F.col("nlp6"))
            .cast("long")
            .alias("nlp_num"),
            F.sum("tf").cast("long").alias("tf_sum"),
        )
    )


# The shared scored-frame CTE prefix for the two unigram-LM oracles.
# nlp6 is the SAME exact-integer fixed-point logarithm the Spark build
# computes (_nlp6_duckdb_ctes unrolls the fold as generated CTEs) —
# both engines agree bit-for-bit by construction; ln() appears only in
# the float `logprob` column, which no consumer keys on.
_NLP6_CTES, _NLP6_FINAL = _nlp6_duckdb_ctes()
_UNIGRAM_SCORED_SQL = f"""
    WITH toks AS (SELECT doc_id, source,
                         unnest(string_split(lower(text), ' ')) AS term
                  FROM documents),
         t AS (SELECT doc_id, source, term FROM toks WHERE term <> ''),
         tf AS (SELECT doc_id, source, term, count(*) AS tf
                FROM t GROUP BY doc_id, source, term),
         vocab AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt
                   FROM tf GROUP BY term),
         n AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM tf),
         {_NLP6_CTES},
         scored AS (SELECT tf.doc_id, tf.source,
                           sum(tf.tf * ln(v.cnt / (v.total * 1.0)))
                             / sum(tf.tf) AS logprob,
                           CAST(sum(tf.tf * v.nlp6) AS BIGINT)
                             AS nlp_num,
                           CAST(sum(tf.tf) AS BIGINT) AS tf_sum
                    FROM tf JOIN {_NLP6_FINAL} v USING (term)
                    GROUP BY tf.doc_id, tf.source)
"""


@query(
    "q_unigram_logprob",
    _UNIGRAM_SCORED_SQL
    + """
    SELECT source, count(*) AS docs,
           round(avg(logprob), 4) AS avg_logprob,
           round(min(logprob), 4) AS min_logprob,
           round(max(logprob), 4) AS max_logprob
    FROM scored GROUP BY source
    """,
    doc="extension (CCNet-style LM quality proxy): score each doc by "
    "its mean unigram log-probability under the corpus's own unigram "
    "model — the native-expression stand-in for the perplexity "
    "bucketing CCNet/fastText pipelines run before training (low "
    "mean logprob = rare-token gibberish, high = common-token "
    "boilerplate; both tails get inspected). Plan: one explode+"
    "groupBy collapses the token stream to (doc, term, tf); the vocab "
    "census and the scoring join both run on THAT frame, so the join "
    "carries |distinct doc-term pairs| rows, not |tokens| — the "
    "weighted mean sum(tf*ln p)/sum(tf) is algebraically the token "
    "average. At 100 TB the vocab frame exceeds broadcast and the "
    "scoring join shuffles on term — O(doc-term pairs), strictly "
    "below the O(tokens) floor a naive token join pays. ln + "
    "round(4) is the q_tfidf cross-engine-stable pattern.",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _unigram_scored(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.avg("logprob"), 4).alias("avg_logprob"),
        F.round(F.min("logprob"), 4).alias("min_logprob"),
        F.round(F.max("logprob"), 4).alias("max_logprob"),
    )


@query(
    "q_perplexity_buckets",
    _UNIGRAM_SCORED_SQL
    + """
       , lp AS (SELECT doc_id, source,
                       CAST(CAST(-(nlp_num // (tf_sum * 100))
                                 AS DECIMAL(14,0)) * 0.0001
                            AS DECIMAL(18,4)) AS lp
                FROM scored),
         b AS (SELECT source, lp,
                      ntile(3) OVER (PARTITION BY source
                                     ORDER BY lp DESC, doc_id) AS nb
               FROM lp)
    SELECT source,
           CASE nb WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS bucket,
           count(*) AS docs,
           CAST(CAST(sum(lp) AS DECIMAL(18,4)) AS DOUBLE)
             AS sum_logprob,
           CAST(CAST(min(lp) AS DECIMAL(18,4)) AS DOUBLE)
             AS lo_logprob,
           CAST(CAST(max(lp) AS DECIMAL(18,4)) AS DOUBLE)
             AS hi_logprob
    FROM b GROUP BY source, bucket
    """,
    doc="extension (CCNet perplexity buckets): CCNet's actual USE of "
    "the LM score is not a census but a split — rank each source's "
    "docs by LM likelihood and cut into head/middle/tail tertiles "
    "(head = most in-domain, tail = gibberish candidates; training "
    "recipes keep head+middle or reweight by bucket). Per-doc scores "
    "come from the shared unigram frame (_unigram_scored) in their "
    "EXACT-INTEGER form: the sort key is -(nlp_num div (tf_sum*100)) "
    "— a pure 64-bit integer floor-division of per-term fixed-point "
    "integer-log weights (_nlp6_spark_expr: binary-length integer "
    "part + renormalizing-squaring fractional bits — ZERO runtime "
    "transcendentals in the key path, after the r6 float-mean AND the "
    "r7 quantized-runtime-ln forms both flipped at the driver on "
    "1-ulp libm disagreements), so every engine computes bit-"
    "identical keys by construction. doc_id makes the order total, so both "
    "engines cut identical tertiles; the integer key scale-shifts to "
    "DECIMAL(18,4) by exact decimal multiply (never division) for "
    "reporting. The census reports per-bucket doc counts and logprob "
    "ranges — the lo/hi bounds ARE the bucket thresholds a filtering "
    "pass would apply. Scale shape: the window shuffles one row per "
    "DOC (never tokens) partitioned by source — the packer's proven "
    "shape; for a single unbounded source swap the exact tertile for "
    "approx_percentile thresholds + a broadcast map-side bucket "
    "assignment (the zscore moments-twin pattern).",
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    lp = _unigram_scored(spark, sf_dir).select(
        "doc_id",
        "source",
        F.expr(
            "CAST(CAST(-(nlp_num div (tf_sum * 100)) AS DECIMAL(14,0))"
            " * 0.0001 AS DECIMAL(18,4))"
        ).alias("lp"),
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("lp"), F.asc("doc_id")
    )
    b = lp.withColumn("nb", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("nb") == 1, "head")
        .when(F.col("nb") == 2, "middle")
        .otherwise("tail")
    )
    return (
        b.select("source", bucket.alias("bucket"), "lp")
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            # sums/extrema of the DECIMAL(18,4) scores are exact
            # integer arithmetic in both engines. REPORTED as DOUBLE:
            # the r6/r7 driver reds made this the only recorded-window
            # query emitting a decimal column — a value-hash dtype no
            # driver row has ever proven green — so the final cast
            # converts the identical exact decimal to the identical
            # correctly-rounded IEEE double in both engines (int/10^4
            # and BigDecimal.doubleValue are both nearest-rounded of
            # the same rational), landing on the dtype every other
            # green row has exercised for seven rounds.
            F.sum("lp")
            .cast("decimal(18,4)")
            .cast("double")
            .alias("sum_logprob"),
            F.min("lp")
            .cast("decimal(18,4)")
            .cast("double")
            .alias("lo_logprob"),
            F.max("lp")
            .cast("decimal(18,4)")
            .cast("double")
            .alias("hi_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Source-mixture divergence census (round 8)
# ---------------------------------------------------------------------------

# Per-source chain over svocab (keys source+term) + the corpus chain —
# the SAME fixed-point integer logarithm, namespaced so both unrolled
# folds coexist in one WITH clause.
_SRC_NLP6_CTES, _SRC_NLP6_FINAL = _nlp6_duckdb_ctes(
    prefix="s", src="svocab", keys=("source", "term")
)
_SOURCE_DIVERGENCE_SQL = f"""
    WITH toks AS (SELECT source,
                         unnest(string_split(lower(text), ' ')) AS term
                  FROM documents),
         t AS (SELECT source, term FROM toks WHERE term <> ''),
         stf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
                 FROM t GROUP BY source, term),
         stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total
                  FROM stf GROUP BY source),
         vocab AS (SELECT term, CAST(sum(cnt) AS BIGINT) AS cnt
                   FROM stf GROUP BY term),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM stf),
         {_NLP6_CTES},
         svocab AS (SELECT stf.source, stf.term, stf.cnt, stot.total
                    FROM stf JOIN stot USING (source)),
         {_SRC_NLP6_CTES},
         j AS (SELECT s.source, s.cnt, s.total,
                      s.nlp6 AS nlp_p, v.nlp6 AS nlp_q
               FROM {_SRC_NLP6_FINAL} s
               JOIN {_NLP6_FINAL} v USING (term)),
         m AS (SELECT source,
                      CAST(max(total) AS BIGINT) AS tokens,
                      count(*) AS terms,
                      CAST(CAST(sum(CAST(cnt AS HUGEINT) * nlp_q)
                                AS HUGEINT) // max(total)
                           AS BIGINT) AS xent_micro,
                      CAST(CAST(sum(CAST(cnt AS HUGEINT) * nlp_p)
                                AS HUGEINT) // max(total)
                           AS BIGINT) AS ent_micro
               FROM j GROUP BY source)
    SELECT source, tokens, terms, xent_micro, ent_micro,
           xent_micro - ent_micro AS kl_micro
    FROM m
"""


@query(
    "q_source_divergence",
    _SOURCE_DIVERGENCE_SQL,
    doc="extension (DoReMi/importance-sampling mixture signal): per-"
    "source unigram cross-entropy vs the corpus distribution, own "
    "entropy, and their difference — KL(source ‖ corpus) — in "
    "micro-nats/token. This is the distributional-distance census a "
    "mixture-reweighting pass reads before setting per-source "
    "sampling rates (a source whose token distribution diverges "
    "hard from the pool is either a distinct domain worth "
    "upweighting or boilerplate worth capping; the entropy column "
    "separates the two). Every reported number is pure 64-bit/"
    "decimal INTEGER arithmetic: both -ln(p) families are the "
    "fixed-point integer logarithm nlp6 (binary-length integer part "
    "+ renormalizing-squaring fractional bits — the exact-key "
    "discipline that converted q_perplexity_buckets' driver hash), "
    "per-term products accumulate in DECIMAL(38,0)/HUGEINT so the "
    "sums cannot wrap even at 100 TB token counts, and the per-token "
    "normalization is a positive floor division (Spark div == "
    "DuckDB //). Plan shape: ONE explode+groupBy collapses the "
    "token stream to (source, term, cnt); the corpus vocab, the "
    "per-source totals (|sources| rows, broadcast), and both nlp6 "
    "folds all derive from THAT frame, so the only wide exchanges "
    "are the (source,term) partial-agg shuffle and the term-keyed "
    "scoring join — O(source-term pairs), never O(tokens); the "
    "result is O(|sources|) rows. nlp6 costs one 20-step fold per "
    "distinct (source,term) / term — compute-bounded by vocab size, "
    "not corpus size.",
)
def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    def build() -> DataFrame:
        d = _t(spark, sf_dir, "documents")
        return (
            spread(d)
            .select(
                "source",
                F.explode(
                    F.split(F.lower(F.col("text")), " ")
                ).alias("term"),
            )
            .filter(F.col("term") != "")
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    # Staged as a corpus artifact: FOUR frames below (per-source
    # totals, corpus vocab, corpus total, the scored join's probe)
    # consume this aggregate, and exchange reuse does not bridge the
    # four independently-planned subtrees — without the checkpoint
    # the O(tokens) explode ran four times (measured, sf0.1: 2.5 s →
    # 1.0 s). Post-aggregation and O(|sources| × |vocab|) rows —
    # model-sized, the artifact-store contract.
    stf = corpus_artifact(spark, sf_dir, "source_term_tf", build)
    stot = stf.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("total")
    )
    vocab = stf.groupBy("term").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    n = stf.agg(F.sum("cnt").cast("long").alias("total"))
    vterm = vocab.crossJoin(F.broadcast(n)).withColumn(
        "nlp6", F.expr(_nlp6_spark_expr())
    )
    sterm = stf.join(F.broadcast(stot), "source").withColumn(
        "nlp6", F.expr(_nlp6_spark_expr())
    )
    j = sterm.select(
        "source",
        "term",
        "cnt",
        "total",
        F.col("nlp6").alias("nlp_p"),
    ).join(vterm.select("term", F.col("nlp6").alias("nlp_q")), "term")
    m = j.groupBy("source").agg(
        F.max("total").alias("tokens"),
        F.count(F.lit(1)).alias("terms"),
        # DECIMAL(38,0) accumulation: cnt*nlp6 fits BIGINT at harness
        # scale but not at 100 TB token counts (cnt ~1e12 × nlp6
        # ~3e7 > 2^63) — cast BEFORE the multiply so the product
        # never wraps.
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("nlp_q"))
        .alias("xe_num"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("nlp_p"))
        .alias("en_num"),
    )
    return m.select(
        "source",
        "tokens",
        "terms",
        F.expr("CAST(xe_num div tokens AS BIGINT)").alias(
            "xent_micro"
        ),
        F.expr("CAST(en_num div tokens AS BIGINT)").alias(
            "ent_micro"
        ),
        (
            F.expr("CAST(xe_num div tokens AS BIGINT)")
            - F.expr("CAST(en_num div tokens AS BIGINT)")
        ).alias("kl_micro"),
    )


def assign_quantile_buckets(
    scored: DataFrame,
    by: str = "source",
    col: str = "logprob",
    n_buckets: int = 3,
    accuracy: int = 10_000,
) -> DataFrame:
    """The at-scale twin of q_perplexity_buckets' exact ntile split
    (the zscore moments-twin pattern, applied to quantile bucketing).

    ntile is rank-exact but shuffles every row of a group into its
    window partition — on a single unbounded source that is the hot-key
    funnel. This form never shuffles the scored rows at all: per-group
    bucket EDGES come from ONE partial-aggregated groupBy
    (``approx_percentile``'s sketch merges associatively map-side, so
    the exchange carries |groups| sketch states, not rows), broadcast
    back onto the frame, and bucket assignment is map-side arithmetic
    (count of edges below the score). Rank ties that ntile splits by
    position land wholly on one side of a value edge here — bucket
    sizes are value-exact rather than count-exact, the standard
    approx-quantile trade; the property test pins ≥90% per-doc label
    agreement with the exact form on harness data.

    Returns ``scored`` plus ``bucket_idx`` (1 = lowest scores) and,
    for ``n_buckets=3``, the CCNet ``bucket`` label (tail/middle/head
    — head holds the HIGHEST log-probabilities, matching
    q_perplexity_buckets).
    """
    probs = [i / n_buckets for i in range(1, n_buckets)]
    edges = scored.groupBy(by).agg(
        F.percentile_approx(col, probs, accuracy).alias("_edges")
    )
    out = scored.join(F.broadcast(edges), by)
    idx = (
        F.size(F.filter("_edges", lambda e: e < F.col(col))) + 1
    ).alias("bucket_idx")
    out = out.withColumn("bucket_idx", idx)
    if n_buckets == 3:
        out = out.withColumn(
            "bucket",
            F.when(F.col("bucket_idx") == 1, "tail")
            .when(F.col("bucket_idx") == 2, "middle")
            .otherwise("head"),
        )
    return out.drop("_edges")


@query(
    "q_zscore_moments",
    """
    WITH st AS (SELECT event_type, avg(value) AS mu,
                       stddev_samp(value) AS sigma
                FROM events GROUP BY event_type)
    SELECT e.event_type, count(*) AS n_events,
           CAST(sum(CASE WHEN abs((e.value - st.mu) / st.sigma) > 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS outliers,
           round(min(st.mu), 2) AS mu, round(min(st.sigma), 2) AS sigma
    FROM events e JOIN st USING (event_type)
    GROUP BY e.event_type
    """,
    doc="extension (grouped anomaly flagging, moments form): the "
    "groupBy twin of q_zscore_outliers — per-type mu/sigma from ONE "
    "partial-aggregated groupBy (Spark's avg/stddev_samp aggregates "
    "merge associative moments map-side, so the shuffle carries "
    "|event_type| partial states, not rows), broadcast-joined back for "
    "the outlier census. This is the plan to run on a skewed 100 TB "
    "event table: the window form shuffles EVERY row of a hot "
    "event_type into one partition; this form never shuffles the fact "
    "rows at all (map-side partials + broadcast stats + partial-agged "
    "census). Property-tested frame-equal to the window form.",
)
def q_zscore_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "events")
    stats = d.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        d.select("event_type", "value")
        .join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.coalesce(
                F.sum((F.abs(z) > 3).cast("long")), F.lit(0)
            ).cast("long").alias("outliers"),
            F.round(F.min("mu"), 2).alias("mu"),
            F.round(F.min("sigma"), 2).alias("sigma"),
        )
    )


@query(
    "q_pack_summary",
    f"""
    WITH t AS (SELECT source, doc_id,
                      len(string_split(text, ' ')) AS nt
               FROM documents),
         c AS (SELECT source, nt,
                      sum(nt) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
               FROM t),
         d AS (SELECT source, nt,
                      CAST(floor((cum - nt) / {CTX_TOKENS}.0) AS BIGINT)
                        <> CAST(floor((cum - 1) / {CTX_TOKENS}.0)
                                AS BIGINT) AS straddles
               FROM c),
         s AS (SELECT source, count(*) AS docs,
                      CAST(sum(CASE WHEN straddles THEN 1 ELSE 0 END)
                           AS BIGINT) AS straddlers,
                      CAST(sum(nt) AS BIGINT) AS tokens,
                      CAST(ceil(sum(nt) / {CTX_TOKENS}.0) AS BIGINT)
                        AS bins
               FROM d GROUP BY source)
    SELECT CAST(count(*) AS BIGINT) AS sources,
           CAST(sum(docs) AS BIGINT) AS docs,
           CAST(sum(straddlers) AS BIGINT) AS straddlers,
           round(sum(straddlers) * 100.0 / sum(docs), 4)
             AS straddler_pct,
           CAST(sum(tokens) AS BIGINT) AS tokens,
           CAST(sum(bins) * {CTX_TOKENS} - sum(tokens) AS BIGINT)
             AS wasted_tokens,
           round(sum(tokens) * 100.0 / (sum(bins) * {CTX_TOKENS}), 4)
             AS mean_fill_pct
    FROM s
    """,
    doc="extension (packing efficiency census): the corpus-level "
    "summary of q_pack_sequences — how efficient is offset packing at "
    f"{CTX_TOKENS} tokens: straddler % (docs crossing a bin boundary, "
    "i.e. truncation/continuation candidates), wasted tokens (padding "
    "in each shard's final partial bin) and mean fill %. The per-doc "
    "straddle flag is map-side arithmetic over the same per-source "
    "running sum the packer uses; the census collapses to one row per "
    "source then one global row — at 100 TB nothing but O(|sources|) "
    "crosses the final shuffle.",
)
def q_pack_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    nt = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("nt").over(w)
    doc = d.select("source", "doc_id", nt.alias("nt")).select(
        "source",
        "nt",
        (
            F.floor((cum - F.col("nt")) / CTX_TOKENS)
            != F.floor((cum - 1) / CTX_TOKENS)
        ).alias("straddles"),
    )
    per_source = doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("straddles").cast("long")).alias("straddlers"),
        F.sum("nt").alias("tokens"),
        F.ceil(F.sum("nt") / CTX_TOKENS).alias("bins"),
    )
    return per_source.agg(
        F.count(F.lit(1)).cast("long").alias("sources"),
        F.sum("docs").cast("long").alias("docs"),
        F.sum("straddlers").cast("long").alias("straddlers"),
        F.round(
            F.sum("straddlers") * 100.0 / F.sum("docs"), 4
        ).alias("straddler_pct"),
        F.sum("tokens").cast("long").alias("tokens"),
        (F.sum("bins") * CTX_TOKENS - F.sum("tokens"))
        .cast("long")
        .alias("wasted_tokens"),
        F.round(
            F.sum("tokens") * 100.0 / (F.sum("bins") * CTX_TOKENS), 4
        ).alias("mean_fill_pct"),
    )


@query(
    "q_tfidf",
    """
    WITH toks AS (SELECT doc_id,
                         unnest(string_split(lower(text), ' ')) AS term
                  FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM toks WHERE term <> '' GROUP BY doc_id, term),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 4)
             AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    ORDER BY tfidf DESC, tf.doc_id, tf.term LIMIT 20
    """,
    doc="extension (relevance scoring): smoothed TF-IDF over the "
    "corpus — tf from one explode+groupBy, df from a second "
    "aggregation of the (doc,term) frame (already collapsed, far "
    "smaller than the token stream), N broadcast as a 1-row "
    "aggregate. The tf⋈df join carries NO broadcast hint: df is one "
    "row per distinct term — the corpus VOCABULARY, hundreds of "
    "millions of rows at 100 TB of web text — so the join must be "
    "free to shuffle on term at scale; at harness scale AQE picks "
    "broadcast from runtime statistics on its own. Scores are "
    "deterministic: equal (tf, df) "
    "pairs give bit-equal scores within each engine, so the "
    "total-ordered LIMIT picks the same rows; round(4) absorbs "
    "libm-vs-JVM ln last-ulp drift.",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.plans.extensions_text import (
        doc_term_tf_frame,
    )

    d = _t(spark, sf_dir, "documents")
    # tf folded from the staged doc_term_tf artifact (r13)
    tf = doc_term_tf_frame(spark, sf_dir).select("doc_id", "term", "tf")
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        # No broadcast hint on df_: the vocabulary frame is unbounded
        # at corpus scale. AQE broadcasts it here from statistics.
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                4,
            ).alias("tfidf"),
        )
    )
    return scored.orderBy(
        F.desc("tfidf"), F.asc("doc_id"), F.asc("term")
    ).limit(20)


# Duplicate-cluster edges: two docs are near-dups when they share at
# least this many distinct 8-token shingle fingerprints (the
# q_source_overlap unit, applied doc-level).
CLUSTER_MIN_SHARED = 3


def fp8_ids_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each distinct 8-token-shingle md5 fingerprint's sorted member
    doc_id array over the ``documents`` corpus — staged ONCE per
    corpus (r13, the doc_shingle_frame discipline applied to the
    8-gram family): q_neardup_scores' candidate edges, q_dup_clusters'
    edge builder and q_dup_exposure's exposure census all fold this
    one frame instead of each re-running the corpus-scale
    explode+md5+groupBy subtree. O(distinct shingles) rows — the
    cached_minhash_pairs size class."""
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    def build() -> DataFrame:
        d = _t(spark, sf_dir, "documents")
        toks = F.split(F.lower(F.col("text")), " ")
        fp = (
            spread(d)
            .select(
                "doc_id", F.explode(shingles(toks, 8)).alias("gram")
            )
            .select("doc_id", F.md5("gram").alias("fp"))
        )
        return fp.groupBy("fp").agg(
            F.sort_array(F.collect_set("doc_id")).alias("ids")
        )

    return corpus_artifact(spark, sf_dir, "fp8_ids", build)


def shingle_edges(
    docs: DataFrame,
    k: int = 8,
    min_shared: int = CLUSTER_MIN_SHARED,
    max_df: int | None = None,
    grouped: DataFrame | None = None,
) -> DataFrame:
    """Doc-pair edges ``(doc_a < doc_b, shared)`` where the pair shares
    ≥ ``min_shared`` distinct k-token shingle fingerprints.

    Same inline-pair shape as q_source_overlap (one groupBy(fp)
    collects each fingerprint's sorted member ids; a<b combinations
    are generated from that array in codegen — the heavy
    explode+md5+distinct subtree runs ONCE, not twice per join side).
    ``max_df`` is the 100 TB skew guard: a fingerprint present in more
    than ``max_df`` docs is corpus boilerplate — it contributes
    O(df²) pair rows and no near-dup signal (any genuine duplicate
    family also shares its rarer shingles) — so production callers cap
    it; the oracle-checked query leaves it None for exactness against
    the uncapped SQL.  ``grouped`` bypasses the corpus scan with a
    pre-staged (fp, ids) frame (the ``fp8_ids_frame`` artifact)."""
    if grouped is not None:
        g = grouped
    else:
        toks = F.split(F.lower(F.col("text")), " ")
        fp = (
            spread(docs)
            .select(
                "doc_id", F.explode(shingles(toks, k)).alias("gram")
            )
            .select("doc_id", F.md5("gram").alias("fp"))
        )
        # No .distinct() before the groupBy: collect_set dedups
        # doc_ids per fingerprint map-side, so a separate distinct
        # would be a second full shuffle of the gram frame for
        # nothing (unlike q_source_overlap, whose per-source SIZE
        # census genuinely needs the deduped (fp, source) frame).
        g = fp.groupBy("fp").agg(
            F.sort_array(F.collect_set("doc_id")).alias("ids")
        )
    if max_df is not None:
        g = g.filter(F.size("ids") <= max_df)
    combos = pair_combos(F.col("ids"), "doc_a", "doc_b")
    return (
        g.filter(F.size("ids") >= 2)
        .select(F.explode(combos).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


@query(
    "q_dup_clusters",
    """
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
         s AS (SELECT doc_id, toks,
                      unnest(generate_series(1, greatest(len(toks) - 7,
                                                         1))) AS i
               FROM t),
         fp AS (SELECT DISTINCT doc_id,
                       md5(array_to_string(list_slice(toks, i, i + 7),
                                           ' ')) AS fp
                FROM s),
         e AS (SELECT a.doc_id AS ea, b.doc_id AS eb
               FROM fp a
               JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
               GROUP BY 1, 2 HAVING count(*) >= 3),
         sym AS (SELECT ea, eb FROM e UNION ALL SELECT eb, ea FROM e),
         nodes AS (SELECT DISTINCT ea AS node FROM sym),
         lab AS (WITH RECURSIVE r(node, m) AS (
                   SELECT node, node FROM nodes
                   UNION
                   SELECT s.ea, r.m FROM sym s JOIN r ON r.node = s.eb)
                 SELECT node, min(m) AS comp FROM r GROUP BY node)
    SELECT comp AS cluster_id, count(*) AS n_docs
    FROM lab GROUP BY comp
    """,
    doc="extension (duplicate clustering): CONNECTED COMPONENTS over "
    "the shared-shingle near-dup graph — pairs are not enough for "
    "curation (a chain A~B, B~C is ONE duplicate family even when "
    "A≁C directly; survivor choice and family statistics are "
    "per-component decisions), and pipelines/corpus.py's greedy "
    "pairwise purge explicitly defers transitive-closure cliques to "
    "a components pass. Edges: docs sharing ≥3 distinct 8-token "
    "shingle fingerprints (shingle_edges — the q_source_overlap "
    "inline-pair shape at doc granularity); labeling: iterative "
    "min-label propagation (operators/components.py, the "
    "hash-to-min scheme from public MapReduce-CC literature), "
    "component id = min doc_id — the same deterministic labeling "
    "the oracle's recursive-CTE transitive closure computes, so the "
    "whole iterative algorithm is value-hash-checked against SQL, "
    "not just rows-counted. Output: one row per duplicate family "
    "(cluster_id, n_docs) — all-integer, no float parity risk. "
    "Scale shape: edge building shuffles on the 16-byte fingerprint "
    "(boilerplate fingerprints capped via shingle_edges(max_df=...) "
    "at scale; None here for oracle exactness — harness buckets are "
    "duplicate-family-sized); each propagation round is one "
    "O(|E|)-message join + groupBy over ENDPOINT-sized frames, "
    "round count = component diameter (duplicate families are "
    "shallow; adaptive pointer jumping cuts in for O(log n) on "
    "chains deeper than jump_after). Eager note: like q_corpus_curate, "
    "constructing this plan RUNS Spark jobs (the fixpoint's "
    "per-round convergence counts + localCheckpoint rounds).",
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cluster_labels(spark, sf_dir).groupBy(
        F.col("comp").alias("cluster_id")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


def cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's duplicate-family component labels — a CORPUS
    ARTIFACT (one row per doc in a multi-doc family, checkpointed):
    the connected-components fixpoint is eager (each round runs Spark
    jobs), so every consumer re-deriving it per call would re-pay the
    whole iteration; the cached_minhash_pairs discipline applies —
    built once per (session, corpus), invalidated by the corpus
    fingerprint / clear_artifacts. The fixpoint cost stays visible in
    tests and first-use (bench warm-up)."""
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )
    from prueba_tecnica_analista_etl_spark.operators.components import (
        connected_components,
    )

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


# ---------------------------------------------------------------------------
# Source-mixture sampling (training-data blending)
# ---------------------------------------------------------------------------

# Per-source mixture weights: keep-fraction per corpus source, the
# blending step after q_source_overlap's census says which sources to
# up/down-weight. Curated source kept whole, two mid-tier sources
# halved, one quartered, everything else decimated — the classic
# "wiki×1.0, books×0.5, web×0.1" recipe shape.
MIXTURE_WEIGHTS: dict[str, float] = {
    "src0": 1.0,
    "src1": 0.5,
    "src2": 0.5,
    "src3": 0.25,
}
MIXTURE_DEFAULT = 0.1


def _hex_threshold(frac: float) -> str:
    """Keep-threshold for ``md5_prefix8 < threshold`` sampling.

    The doc's uniform variate is its md5 hex prefix (8 lowercase hex
    chars); fixed-length lowercase hex compares lexicographically ==
    numerically, so ``prefix < format(frac * 2**32, '08x')`` keeps a
    deterministic ~frac of docs IDENTICALLY in any engine with md5 —
    no float arithmetic, no engine-specific hash(). frac >= 1.0 maps
    to 'g' (sorts after every hex digit): keep-all, exactly.
    """
    if frac >= 1.0:
        return "g"
    return format(int(frac * 2**32), "08x")


def _mixture_sql_case() -> str:
    whens = "\n".join(
        f"             WHEN '{src}' THEN '{_hex_threshold(w)}'"
        for src, w in MIXTURE_WEIGHTS.items()
    )
    return (
        "CASE source\n"
        + whens
        + f"\n             ELSE '{_hex_threshold(MIXTURE_DEFAULT)}' END"
    )


@query(
    "q_mixture_sample",
    f"""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
          {_mixture_sql_case()}
    """,
    doc="extension (mixture sampling): realize per-source blending "
    "weights as a DETERMINISTIC hash sample — the step that turns a "
    "mixture recipe (weights per source, tuned from q_source_overlap "
    "/ quality censuses) into the actual training subset. Each doc's "
    "uniform variate is its md5-hex 8-char prefix; keep iff prefix < "
    "per-source threshold (fixed-width lowercase hex compares "
    "lexicographically == numerically, so Spark and DuckDB draw the "
    "SAME sample bit-for-bit — the oracle value-hash verifies exact "
    "sample MEMBERSHIP, not a count). Weight 1.0 becomes threshold "
    "'g' (> every hex digit): keep-all with no off-by-2^-32 edge. "
    "Deterministic-by-key beats rand(): re-runs, retries and "
    "incremental refreshes select the same docs (idempotent "
    "pipeline), and upstream dedup order can't perturb the draw. "
    "Plan shape: map-only — one scan, zero shuffle, filter is pure "
    "codegen (md5+substr+CASE); at 100 TB it composes with "
    "partition pruning and runs at scan speed. Epoch-keyed "
    "re-mixing (new sample per training run) = salt the md5 input "
    "with a run id.",
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    thr = F.lit(_hex_threshold(MIXTURE_DEFAULT))
    for src, w in MIXTURE_WEIGHTS.items():
        thr = F.when(F.col("source") == src, _hex_threshold(w)).otherwise(
            thr
        )
    u = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    return d.filter(u < thr).select("doc_id", "source", "n_chars")


# Count-capped companion to MIXTURE_WEIGHTS' fraction sampling: at
# most N docs per source, chosen by deterministic hash order — the
# balancing step when a mixture needs per-source CAPS (cap the giant
# crawl, keep small curated sources whole) rather than fractions.
GROUP_SAMPLE_N = 10


@query(
    "q_group_sample",
    f"""
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= {GROUP_SAMPLE_N}
    """,
    doc="extension (per-group capped sample): keep at most "
    f"{GROUP_SAMPLE_N} docs per source, selected by deterministic "
    "md5-hash order (tie-break doc_id) — a uniform without-replacement "
    "draw that is reproducible across engines and runs, the "
    "count-cap twin of q_mixture_sample's fraction draw (real "
    "mixtures use both: fractions for blending ratios, caps for "
    "balancing a giant crawl against small curated sources). The "
    "oracle verifies exact sample MEMBERSHIP (same hash order both "
    "engines). Plan shape: rank-by-hash is the scalable form of "
    "'ORDER BY rand() LIMIT N per group' — one shuffle on source, "
    "and the rn <= N predicate gets WindowGroupLimit pruning "
    "(Partial below the exchange: each map task forwards only its "
    "own top-N per group, so shuffle volume is O(groups × N × "
    "tasks), independent of group size — survives a 100 TB source "
    "with billions of docs).",
)
def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select(
            "doc_id", "source", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= GROUP_SAMPLE_N)
        .drop("rn")
    )


@query(
    "q_source_priority_dedup",
    """
    WITH d AS (SELECT source, doc_id, md5(text) AS fp,
                      CAST(regexp_replace(source, '^src', '') AS INT)
                        AS pri
               FROM documents),
         r AS (SELECT source,
                      row_number() OVER (PARTITION BY fp
                                         ORDER BY pri, doc_id) AS rn
               FROM d)
    SELECT source,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lost
    FROM r GROUP BY source
    """,
    doc="extension (cross-source priority dedup): exact-content dedup "
    "where the survivor is NOT min-doc_id but the copy from the most "
    "PREFERRED source (curated wiki beats common-crawl beats random "
    "scrape — the standard multi-source corpus rule; here priority = "
    "the source's numeric rank, tie-broken by doc_id so the order is "
    "total). Census reports per source how many docs it kept vs lost "
    "to a higher-priority duplicate elsewhere — the numbers a corpus "
    "builder uses to audit how much each feed actually contributes "
    "after dedup. Plan shape: one shuffle on md5(text) (the "
    "fingerprint-not-raw-text key the exact-dedup docstring "
    "prescribes at 100 TB), WindowGroupLimit-free full ranking since "
    "every row's rank is consumed, then a partial-agged census "
    "shuffle on the tiny (source, flag) pairs.",
)
def q_source_priority_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.md5("text").alias("fp"),
        F.regexp_replace("source", "^src", "")
        .cast("int")
        .alias("pri"),
    )
    w = Window.partitionBy("fp").orderBy("pri", "doc_id")
    r = d.select("source", F.row_number().over(w).alias("rn"))
    return r.groupBy("source").agg(
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_lost"),
    )


def split_col() -> Column:
    """Deterministic train/val/test assignment of ``doc_id``: its first
    md5-hex nibble, < 'c' train (12/16), < 'e' val (2/16), else test."""
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return F.when(nib < "c", "train").when(nib < "e", "val").otherwise("test")


@query(
    "q_train_val_split",
    """
    SELECT source,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
                THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
    FROM documents GROUP BY source, split
    """,
    doc="extension (deterministic train/val/test split): the "
    "reproducible-split step every training pipeline needs — each "
    "doc's first md5-hex nibble is its uniform variate (the "
    "q_mixture_sample convention: fixed-width lowercase hex compares "
    "lexicographically == numerically, so Spark and DuckDB assign "
    "every doc the SAME split bit-for-bit), cut at 'c'/'e' for a "
    "12:2:2 sixteenths split (75%% train, 12.5%% val, 12.5%% test). "
    "Hash-of-key beats rand(): re-runs, retries, upstream re-orders "
    "and incremental refreshes never migrate a doc across splits — "
    "the property that prevents silent val-set leakage over a "
    "pipeline's lifetime. Census reports docs+tokens per source x "
    "split (the table a run config records). Plan: map-only split "
    "assignment fused into one partial-agged groupBy; at 100 TB it "
    "runs at scan speed with a |sources x 3| result.",
)
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            split_col().alias("split"),
            F.size(F.split("text", " ")).alias("n_tok"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
        )
    )


@query(
    "q_length_histogram",
    """
    WITH d AS (SELECT len(string_split(text, ' ')) AS n_tok
               FROM documents)
    SELECT CAST(pow(2, length(bin(n_tok)) - 1) AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM d GROUP BY bucket_lo
    """,
    doc="extension (sequence-length histogram): power-of-two doc-length "
    "buckets — the census a packing planner reads before choosing "
    "sequence length and bin capacity (q_pack_sequences' inputs: a "
    "corpus whose mass sits in the 32-63 bucket packs very "
    "differently into 2048-token bins than one with a 1024+ tail). "
    "The bucket floor is 2^(bitlength-1) computed EXACTLY via the "
    "binary-string length of the integer token count — both engines "
    "print bin(8)='1000' — never floor(log2(x)), whose float "
    "round-trip misassigns exact powers of two on some libms. "
    "pow(2, small-int) is IEEE-exact. Plan: map-only bucket "
    "assignment into a partial-agged groupBy over ~60 tiny groups — "
    "scan-speed at any corpus size.",
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).alias("n_tok")
    )
    return (
        d.select(
            F.expr(
                "CAST(pow(2, length(bin(n_tok)) - 1) AS BIGINT)"
            ).alias("bucket_lo"),
            "n_tok",
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
    )


@query(
    "q_decontaminate",
    f"""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
               FROM documents),
         s AS (SELECT doc_id, source,
                      unnest(generate_series(1, greatest(len(toks) - 3,
                                                         1))) AS i,
                      toks
               FROM t),
         g AS (SELECT doc_id, source,
                      array_to_string(list_slice(toks, i, i + 3), ' ')
                        AS gram
               FROM s),
         bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
         flagged AS (SELECT g.doc_id
                     FROM g JOIN bench USING (gram)
                     WHERE g.doc_id % 50 <> 0
                     GROUP BY g.doc_id
                     HAVING count(DISTINCT g.gram) >= {CONTAM_MIN_HITS})
    SELECT d.doc_id, d.source,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
    FROM documents d
    WHERE d.doc_id % 50 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
    """,
    doc="extension (decontamination APPLY — the filter q_contamination "
    "only censuses): emit the training corpus minus every doc whose "
    "distinct 4-gram overlap with the held-out benchmark reaches the "
    f"drop threshold ({CONTAM_MIN_HITS} shared grams) — the actual "
    "clean-corpus output a pretraining run consumes, same relation to "
    "the contamination census as q_perplexity_buckets' split is to "
    "the unigram census. Plan shape inherits the census's: the "
    "benchmark gram set broadcasts, the corpus gram stream probes it "
    "map-side (left-semi), only MATCHED grams shuffle into the "
    "per-doc distinct count, and the flagged-id frame (tiny) "
    "anti-joins the corpus — at 100 TB the full gram stream never "
    "shuffles and the output scan is one pass.",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    g4 = doc_grams4_frame(spark, sf_dir)
    flagged = (
        contamination_hits(
            g4.select("doc_id", F.explode("grams").alias("gram")),
            bench_grams4_frame(spark, sf_dir),
        )
        .filter(F.col("n_hits") >= CONTAM_MIN_HITS)
        .select("doc_id")
    )
    return (
        d.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(flagged, "doc_id", "left_anti")
        .select(
            "doc_id",
            "source",
            F.size(toks).cast("long").alias("n_tokens"),
        )
    )


@query(
    "q_split_leakage",
    """
    WITH s AS (
      SELECT md5(text) AS fp,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'
                  THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    g AS (SELECT fp,
            CAST(count(CASE WHEN split = 'train' THEN 1 END) AS BIGINT)
              AS n_train,
            CAST(count(CASE WHEN split = 'val' THEN 1 END) AS BIGINT)
              AS n_val,
            CAST(count(CASE WHEN split = 'test' THEN 1 END) AS BIGINT)
              AS n_test
          FROM s GROUP BY fp)
    SELECT 'val' AS split, CAST(sum(n_val) AS BIGINT) AS docs,
           CAST(sum(CASE WHEN n_train > 0 THEN n_val ELSE 0 END)
                AS BIGINT) AS leaked
    FROM g
    UNION ALL
    SELECT 'test', CAST(sum(n_test) AS BIGINT),
           CAST(sum(CASE WHEN n_train > 0 THEN n_test ELSE 0 END)
                AS BIGINT)
    FROM g
    """,
    doc="extension (split hygiene): content-leakage census across the "
    "q_train_val_split assignment — per eval split, how many docs "
    "carry content whose md5 fingerprint also appears in train. "
    "Hash-of-id splitting keeps an ID from straddling splits; this "
    "audits the case it cannot prevent: byte-identical content under "
    "DIFFERENT ids (mirrors, re-crawls). One fingerprint-keyed "
    "shuffle of conditional counts, join-free census after "
    "(operators/sampling.py split_leakage_census).",
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content leakage from train into val/test under the
    deterministic nibble split.

    Composes q_train_val_split's assignment (same first-md5-nibble
    cuts — bit-identical in both engines) with the content-fingerprint
    leakage census. The testdata REALLY leaks at sf0.1 (4 fingerprints
    span splits); at sf0.01 the true answer is zero and the oracle
    verifies the zero. The near-dup analogue (leak = MinHash pair
    across the boundary, not byte equality) composes the same census
    with cached_minhash_pairs — rows-only territory; this is the
    exact, oracle-checkable tier.

    Scale: one md5(text) shuffle (the q_exact_dedup cost family), then
    ONE census-sized partial-agged global aggregate exploded into
    per-split rows (a per-split union would rescan and reshuffle once
    per split). Join-free — the per-fingerprint conditional counts
    already see both sides of the boundary.
    """
    from prueba_tecnica_analista_etl_spark.operators.sampling import (
        split_leakage_census,
    )

    d = _t(spark, sf_dir, "documents")
    return split_leakage_census(
        d.select(split_col().alias("split"), "text"), "text"
    )


@query(
    "q_neardup_scores",
    """
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
         s AS (SELECT doc_id, toks,
                      unnest(generate_series(1, greatest(len(toks) - 7,
                                                         1))) AS i
               FROM t),
         fp AS (SELECT DISTINCT doc_id,
                       md5(array_to_string(list_slice(toks, i, i + 7),
                                           ' ')) AS fp
                FROM s),
         e AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      count(*) AS shared
               FROM fp a
               JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
               GROUP BY 1, 2 HAVING count(*) >= 3),
         sz AS (SELECT doc_id, count(*) AS n FROM fp GROUP BY doc_id)
    SELECT e.doc_a, e.doc_b, e.shared, sa.n AS n_a, sb.n AS n_b,
           CAST(e.shared AS DOUBLE)
             / CAST(sa.n + sb.n - e.shared AS DOUBLE) AS jaccard_sim
    FROM e
    JOIN sz sa ON sa.doc_id = e.doc_a
    JOIN sz sb ON sb.doc_id = e.doc_b
    """,
    doc="extension (near-dup scoring, ORACLE-BACKED tier): exact "
    "Jaccard similarity for every candidate pair of the shared-"
    "shingle graph — md5 fingerprints end-to-end, value-hash-checked "
    "against SQL (the FIRST oracle-backed near-dup tier; since r11 "
    "the minhash/simhash LSH tiers are oracle-backed too, via "
    "engine-neutral md5_60 hashing). Candidates: docs sharing >=3 "
    "distinct 8-token "
    "shingle fingerprints (shingle_edges — one fingerprint-keyed "
    "shuffle, inline a<b pair expansion, max_df boilerplate cap "
    "available at scale); scores: |A∩B| = the pair's shared-"
    "fingerprint count the edge aggregate already holds, |A∪B| = "
    "n_a + n_b − shared from the per-doc distinct-fingerprint "
    "census, so scoring never touches the shingle sets again — no "
    "second pass, no array intersections, just two integer-keyed "
    "joins of a census-sized frame onto the edge list. jaccard_sim "
    "is ONE IEEE division of exact integers (bit-identical across "
    "engines); any downstream THRESHOLD should compare integers "
    "(keep iff (1+tau)*shared >= tau*(n_a+n_b), exact) rather than "
    "the double.",
)
def q_neardup_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pair scores over the shingle-fingerprint graph.

    The LSH tiers (minhash/simhash/ngram-jaccard — oracle-backed
    since r11 via engine-neutral md5_60 hashing) are approximate by
    design; this query is the exact tier a curation run uses to
    AUDIT their recall: the same
    candidate edges q_dup_clusters clusters (docs sharing >=
    CLUSTER_MIN_SHARED 8-token md5 shingle fingerprints), each scored
    with its true Jaccard over distinct shingle sets.

    |A∩B| is free — it IS the edge's ``shared`` count; |A∪B| comes
    from the per-doc distinct-fingerprint census joined twice onto
    the edge list (hash joins keyed on doc_id). Both the edge list
    and the size census derive from the SAME fingerprint-grouped
    frame ``g`` (each fp's deduped member-id array): edges explode
    its a<b pairs, sizes explode its ids — so the corpus-scale
    explode+md5 subtree and its fp-keyed Exchange run ONCE
    (ReusedExchange, plan-pinned), and the corpus is scanned once.
    Reference parity: the duplicate-detection design of nb:150-160
    (exact drop_duplicates) extended to graded near-duplicates.
    """
    # The staged per-fp member frame (r13): edges AND the size census
    # both fold the fp8_ids artifact — the corpus-scale explode+md5
    # subtree is paid once per corpus, not once per query.
    g = fp8_ids_frame(spark, sf_dir)
    edges = (
        g.filter(F.size("ids") >= 2)
        .select(
            F.explode(pair_combos(F.col("ids"), "doc_a", "doc_b")).alias(
                "p"
            )
        )
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= CLUSTER_MIN_SHARED)
    )
    sz = (
        g.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        edges.join(
            sz.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
            ),
            "doc_a",
        )
        .join(
            sz.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "n_a",
            "n_b",
            (
                F.col("shared").cast("double")
                / (
                    F.col("n_a") + F.col("n_b") - F.col("shared")
                ).cast("double")
            ).alias("jaccard_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document duplication exposure (memorization-risk census)
# ---------------------------------------------------------------------------


@query(
    "q_dup_exposure",
    """
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
         s AS (SELECT doc_id, toks,
                      unnest(generate_series(1, greatest(len(toks) - 7,
                                                         1))) AS i
               FROM t),
         fp AS (SELECT DISTINCT doc_id,
                       md5(array_to_string(list_slice(toks, i, i + 7),
                                           ' ')) AS fp
                FROM s),
         k AS (SELECT fp, COUNT(*) AS kdocs FROM fp GROUP BY fp)
    SELECT f.doc_id,
           COUNT(*) AS n_grams,
           CAST(COALESCE(SUM(CASE WHEN k.kdocs >= 2 THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_shared,
           CAST(SUM(CASE WHEN k.kdocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_ratio
    FROM fp f JOIN k USING (fp)
    GROUP BY f.doc_id
    ORDER BY n_shared DESC, n_grams ASC, doc_id ASC
    LIMIT 20
    """,
    doc="Memorization-risk census: per-document fraction of its "
    "distinct 8-token shingle fingerprints that appear in at least "
    "one OTHER document (top-20 most-exposed docs, integer sort "
    "keys). n_shared is computed via its complement (n_grams minus "
    "the doc's GLOBALLY-UNIQUE fingerprints, each attributed to its "
    "single owner by min(doc_id) inside one partial-aggregating fp "
    "groupBy) — no per-fp window, no doc-by-doc comparison, and no "
    "skewed anything: a boilerplate fingerprint shared by every doc "
    "costs one partially-aggregated counter, not a window partition.",
)
def q_dup_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication exposure over 8-gram fingerprints.

    The dedup family answers "which PAIRS are near-dups"; a training
    pipeline equally needs the per-document view — how much of THIS
    document's content exists elsewhere in the corpus — because
    highly-exposed documents are the ones a model can memorize from
    repeated exposure even when no single pair crosses a near-dup
    threshold (boilerplate, templates, quoted passages). The census:
    ``n_grams`` distinct shingles, ``n_shared`` of them present in
    ≥2 documents, ``dup_ratio`` their single-division quotient;
    top-20 by exposure on integer sort keys (n_shared DESC, n_grams
    ASC, doc_id ASC — the float ratio is reported, never a sort key:
    SURVEY §2.11 hash-stability discipline).

    Scale shape (r9 verdict task 5 — the de-skewed form): n_shared is
    computed through its COMPLEMENT. A fingerprint is shared iff it
    appears in >=2 documents, so per doc

        n_shared = n_grams - |fps globally unique to this doc|

    and a globally-unique fp's owner is recoverable inside the same
    aggregate that counts it (min(doc_id) over its single row). The
    plan is therefore: one (doc_id, fp) distinct exchange, reused by
    two hash aggregations — groupBy(fp) for the unique-fp census and
    groupBy(doc_id) for n_grams — and a per-doc join of two at-most-
    one-row-per-key frames. Every fp-keyed step PARTIALLY aggregates
    (map-side combine), so a boilerplate fingerprint shared by every
    document costs one counter per task, never a window partition or
    a hot join key: the earlier per-fp count window inherited the
    boilerplate-shingle skew q_source_overlap documents, with one
    unbounded window partition per mega-shared fp. The census is
    LINEAR in corpus shingles where the pair graph is quadratic in
    duplicated docs; top-20 is TakeOrderedAndProject. Reuses the
    exact 8-gram md5 fingerprint construction parity-proven by
    q_source_overlap / q_contamination.

    Reference parity: the reference's duplicate analysis (nb:150-160
    keep-first dedup; Seccion_1_Excel top-20 duplicates) lifted from
    row identity to CONTENT overlap, per document.
    """
    # Both censuses fold the staged fp8_ids artifact (r13): a doc's
    # distinct-fp count is its membership count across fp rows, and
    # its globally-unique fps are the size-1 rows it owns — no corpus
    # scan, no (doc_id, fp) distinct exchange.
    g = fp8_ids_frame(spark, sf_dir)
    n_unique = (
        g.filter(F.size("ids") == 1)
        .select(F.element_at("ids", 1).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return (
        g.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .join(n_unique, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            (
                F.col("n_grams") - F.coalesce(F.col("n_unique"), F.lit(0))
            ).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("dup_ratio"),
        )
        .orderBy(F.desc("n_shared"), F.asc("n_grams"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "q_group_safe_split",
    f"""
    WITH g AS (SELECT min(doc_id) AS rep, COUNT(*) AS k
               FROM documents GROUP BY md5(text)),
         a AS (SELECT CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 8)
                                < '{_hex_threshold(0.8)}'
                           THEN 'train' ELSE 'val' END AS split, k
               FROM g)
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN k >= 2 THEN k ELSE 0 END) AS BIGINT)
             AS n_dup_docs
    FROM a GROUP BY split ORDER BY split
    """,
    doc="Leakage-safe train/val split: the split draw is keyed on the "
    "exact-duplicate GROUP's representative (min doc_id per md5(text) "
    "class), so identical documents can never straddle train and val "
    "— the doc-keyed draw (q_train_val_split) leaks every duplicated "
    "text across the boundary with probability 2·p·(1-p). Census per "
    "split: group count, doc count, and docs in multi-copy groups "
    "(the population the group key just protected). One md5(text) "
    "shuffle + a two-row census.",
)
def q_group_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware split assignment (SURVEY §2.11, r10).

    Why group-keyed: an eval/holdout split drawn per DOCUMENT puts
    each copy of a duplicated text independently into train or val —
    a duplicated doc straddles the boundary with probability
    2·p·(1-p) (~32% at p=0.8), and the val half of such a pair is
    memorized training data, inflating eval scores. Drawing on the
    duplicate GROUP's representative assigns whole content classes
    atomically: straddling is impossible by construction, which the
    n_dup_docs column quantifies (how many docs the group key just
    protected). The same md5-prefix threshold convention as
    q_train_val_split / q_mixture_sample (deterministic, engine-
    stable, no float arithmetic); extending from exact-dup groups to
    near-dup clusters = feed operators/components.py labels in as the
    group key (rows-only territory — the component labels are
    engine-specific; this exact-group form keeps the census
    oracle-checkable).

    Scale shape: one partial-aggregating shuffle on md5(text) (the
    q_exact_dedup cost family — fingerprints, never raw text, on the
    exchange), a map-side split draw per GROUP row, and a two-row
    census aggregation. No windows, no joins, no skew (group rows are
    unique by fingerprint).

    Reference parity: the reference's keep-first dedup (nb:150-160,
    `drop_duplicates`) composed with a reproducible sampling rule —
    the reference dedups THEN samples; this shows the composition
    that stays leakage-safe when you must sample without fully
    deduplicating.
    """
    # no spread() (r14): one md5 per row straight into a map-side
    # partial aggregate — the repartition shuffled the full corpus
    # text to parallelize a single hash call (A/B: 0.65 -> 0.33 s).
    g = (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("fp"))
        .agg(
            F.min("doc_id").alias("rep"),
            F.count(F.lit(1)).alias("k"),
        )
    )
    u = F.substring(F.md5(F.col("rep").cast("string")), 1, 8)
    a = g.select(
        F.when(u < F.lit(_hex_threshold(0.8)), "train")
        .otherwise("val")
        .alias("split"),
        "k",
    )
    return (
        a.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("k").alias("n_docs"),
            F.sum(F.when(F.col("k") >= 2, F.col("k")).otherwise(0)).alias(
                "n_dup_docs"
            ),
        )
        .orderBy("split")
    )


def _entropy_oracle_sql() -> str:
    """DuckDB oracle for the per-source unigram entropy census: the
    SAME exact-integer fixed-point logarithm the engine computes
    (``_nlp6_duckdb_ctes`` unrolled over the per-source vocab), so
    every value is 64-bit integer arithmetic end-to-end — bit-equal
    in both engines regardless of accumulation order."""
    ctes, final = _nlp6_duckdb_ctes(
        prefix="ent", src="ent_base", keys=("source", "term")
    )
    return f"""
    WITH toks AS (SELECT source,
                         unnest(string_split(lower(text), ' ')) AS term
                  FROM documents),
         t AS (SELECT source, term FROM toks WHERE term <> ''),
         stf AS (SELECT source, term, count(*) AS cnt
                 FROM t GROUP BY source, term),
         stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total
                  FROM stf GROUP BY source),
         ent_base AS (SELECT source, term, cnt, total
                      FROM stf JOIN stot USING (source)),
         {ctes}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(max(total) AS BIGINT) AS total_tokens,
           CAST(sum(cnt * nlp6) // max(total) AS BIGINT) AS entropy_e6
    FROM {final}
    GROUP BY source
    ORDER BY source
    """


@query(
    "q_unigram_entropy",
    _entropy_oracle_sql(),
    doc="extension (corpus-diversity census, r13): per-source unigram "
    "Shannon entropy in fixed-point nats*1e6 — the drift/templating "
    "signal a curation pipeline watches per ingest source (a source "
    "whose entropy collapses went boilerplate; one whose entropy "
    "jumps changed language mix). entropy_e6 = sum(cnt*nlp6(total,"
    "cnt)) div total over the per-source term census — the SAME "
    "exact-integer fixed-point logarithm as the perplexity family "
    "(zero runtime transcendentals, bit-identical across engines "
    "and accumulation orders). Scale: one explode+groupBy collapses "
    "the token stream to per-source term counts (the q_unigram_"
    "logprob shuffle family), nlp6 runs once per DISTINCT "
    "(source, term) — O(|vocab|) integer folds — and the final "
    "census is sources-sized.",
)
def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    def build() -> DataFrame:
        # Folded from the shared doc_term_tf artifact (r13): the
        # token-stream explode is paid once for the whole term
        # family; this census is its per-source regrouping.
        from prueba_tecnica_analista_etl_spark.plans.extensions_text import (  # noqa: E501
            doc_term_tf_frame,
        )

        stf = (
            doc_term_tf_frame(spark, sf_dir)
            .groupBy("source", "term")
            .agg(F.sum("tf").alias("cnt"))
        )
        stot = stf.groupBy("source").agg(
            F.sum("cnt").cast("long").alias("total")
        )
        return stf.join(stot, "source")

    census = corpus_artifact(spark, sf_dir, "source_term_census", build)
    scored = census.withColumn("nlp6", F.expr(_nlp6_spark_expr()))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.max("total").alias("total_tokens"),
            # DECIMAL(38,0) accumulation, cast BEFORE the multiply
            # (the xe_num/en_num pattern above): the DuckDB oracle
            # computes sum(cnt*nlp6) in HUGEINT, while in Spark both
            # the long PRODUCT (cnt ~1e12 × nlp6 ~3e7 > 2^63 at
            # pretraining scale) and the long sum would silently wrap.
            F.sum(
                F.col("cnt").cast("decimal(38,0)") * F.col("nlp6")
            ).alias("_num"),
        )
        .select(
            "source",
            "n_terms",
            "total_tokens",
            # IntegralDivide on (decimal, long) yields LONG — same
            # type the oracle casts to after its HUGEINT division.
            F.expr("_num div total_tokens").alias("entropy_e6"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Duplicate-span census — substring-level dedup signal (r14)
# ---------------------------------------------------------------------------

# Overlapping k-token windows at stride s — the bounded form of
# suffix-array substring dedup (the "memorized 50-token span" signal
# from public dedup literature): linear in tokens, fingerprint-keyed
# shuffle, the q_dup_exposure pattern at span granularity.  Shipped
# operating point fits the harness corpus (~54-token docs); a real
# 100 TB run raises k to ~50 and s to ~8 — both knobs live in the
# staged artifact key, so a retune can never serve a stale stream.
SPAN_K = 16
SPAN_S = 4


def doc_span_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, fp) — one row per overlapping SPAN_K-token
    window at stride SPAN_S, fp = md5 of the span text; staged once
    per corpus alongside doc_grams4 (the span stream is the shared
    feature for every substring-level consumer).  Docs shorter than
    SPAN_K contribute no spans (too short to memorize — documented)."""
    from prueba_tecnica_analista_etl_spark.artifacts import (
        corpus_artifact,
    )

    def build() -> DataFrame:
        d = spread(_t(spark, sf_dir, "documents"))
        toks = F.split(F.lower(F.col("text")), " ")
        n = F.size(toks)
        starts = F.when(
            n >= F.lit(SPAN_K),
            F.sequence(
                F.lit(1), n - F.lit(SPAN_K - 1), F.lit(SPAN_S)
            ),
        ).otherwise(F.array().cast("array<int>"))
        return (
            d.select(
                "doc_id",
                "source",
                toks.alias("toks"),
                F.explode(starts).alias("i"),
            )
            .select(
                "doc_id",
                "source",
                F.md5(
                    F.concat_ws(
                        " ", F.slice(F.col("toks"), F.col("i"), SPAN_K)
                    )
                ).alias("fp"),
            )
        )

    return corpus_artifact(
        spark, sf_dir, f"doc_spans:k{SPAN_K}:s{SPAN_S}", build
    )


def _dup_spans_oracle_sql() -> str:
    k, s = SPAN_K, SPAN_S
    return f"""
    WITH t AS (SELECT doc_id, source,
                      string_split(lower(text), ' ') AS toks
               FROM documents),
         ix AS (SELECT doc_id, source, toks,
                       unnest(generate_series(
                         1, greatest(len(toks) - {k - 1}, 0), {s})) AS i
                FROM t),
         sp AS (SELECT doc_id, source,
                       md5(array_to_string(
                         list_slice(toks, i, i + {k - 1}), ' ')) AS fp
                FROM ix),
         census AS (SELECT fp, count(DISTINCT doc_id) AS nd
                    FROM sp GROUP BY fp)
    SELECT sp.source,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST(count(DISTINCT CASE WHEN c.nd >= 2 THEN sp.doc_id END)
             AS BIGINT) AS n_docs_hit,
           CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) * {s}
             AS BIGINT) AS est_dup_tokens
    FROM sp JOIN census c USING (fp)
    GROUP BY sp.source
    ORDER BY sp.source
    """


@query(
    "q_dup_spans",
    _dup_spans_oracle_sql(),
    doc="extension (duplicate-span census, new r14): substring-level "
    "dedup signal — doc-level dedup is complete, but a memorized "
    "SPAN_K-token run shared across documents (the suffix-array "
    "dedup shape from public literature) is invisible to whole-doc "
    "fingerprints. Every overlapping SPAN_K-token window at stride "
    "SPAN_S is md5-fingerprinted; a span whose fingerprint appears "
    "in ≥2 DISTINCT docs corpus-wide is a duplicated span. Output: "
    "per-source census (n_spans, n_dup_spans, n_docs_hit, "
    "est_dup_tokens = n_dup_spans·stride — the dedupable-token "
    "proxy) — all-integer. Scale shape: linear in tokens (one window "
    "per stride step), ONE fingerprint-keyed shuffle for the "
    "span-frequency census plus one fp-co-partitioned join back — "
    "exactly the q_dup_exposure pattern at span granularity; the "
    "span stream is staged once per corpus (doc_spans:k16:s4, "
    "alongside doc_grams4) so every substring consumer reads, never "
    "re-explodes.",
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = doc_span_frame(spark, sf_dir)
    census = spans.groupBy("fp").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    dup = F.col("nd") >= 2
    return (
        spans.join(census, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(dup, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.count_distinct(
                F.when(dup, F.col("doc_id"))
            ).alias("n_docs_hit"),
            (
                F.sum(F.when(dup, 1).otherwise(0)) * F.lit(SPAN_S)
            )
            .cast("long")
            .alias("est_dup_tokens"),
        )
        .orderBy("source")
    )
