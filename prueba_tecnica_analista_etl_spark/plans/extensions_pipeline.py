"""Oracle-checked training-data PIPELINE operators — the steps between
a cleaned corpus and a training run: fixed-size chunking, sequence
packing, benchmark-contamination screening, and Gopher-style repetition
filtering. All four are native-expression plans (no UDFs) proven
against DuckDB SQL oracles; their stage code lives in ``stages``.

Reference scope note: the reference (Prueba-Tecnica-Analista-ETL) stops
at cleaning/dedup/verification; these operators are the declared
beyond-reference extensions for LLM data pipelines (SURVEY.md §2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import corpus_artifact
from prueba_tecnica_analista_etl_spark.functions.text import shingles
from prueba_tecnica_analista_etl_spark.functions.vectors import as_double
from prueba_tecnica_analista_etl_spark.operators.sampling import (
    split_leakage_census,
)
from prueba_tecnica_analista_etl_spark.plans.queries import Shape, query
from prueba_tecnica_analista_etl_spark.sources.tables import _t, spread
from prueba_tecnica_analista_etl_spark.stages.dedup import (
    CLUSTER_MIN_SHARED,
    cluster_labels,
    fp8_ids_frame,
    pair_combos,
)
from prueba_tecnica_analista_etl_spark.stages.eval import (
    BENCH_MOD,
    CONTAM_MIN_HITS,
    _hex_threshold,
    bench_grams4_frame,
    contamination_hits,
    split_col,
)
from prueba_tecnica_analista_etl_spark.stages.text import (
    _LN2_1E6,
    _LOG_K,
    _LOG_P,
    CTX_TOKENS,
    SPAN_K,
    SPAN_S,
    _nlp6_spark_expr,
    _unigram_scored,
    doc_grams4_frame,
    doc_term_tf_frame,
    dup_span_census,
    pack_bins,
)

# Chunking constants — chosen so the harness corpus (~30-100
# tokens/doc) produces multi-chunk docs.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


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
    doc="Overlapping fixed-size token chunks of each doc, with the md5 of each chunk's text.",
    shape=Shape(has=("Exchange",), lacks=("Join", "Window"), max_exchanges=1),
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The md5 of each chunk's text lets the oracle check chunk content,
    # not only counts.
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
    doc="Offset-based packing: each source's docs in doc_id order cut into fixed-size bins.",
    shape=Shape(has=("Window",), lacks=("SinglePartition",)),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    nt = F.size(F.split(F.col("text"), " ")).cast("long")
    bins = pack_bins(d.select("source", "doc_id", nt.alias("n_tok")))
    return bins.withColumn(
        "fill_pct", F.floor(F.col("tokens") * 100 / CTX_TOKENS).cast("long")
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
    doc="Per-doc distinct 4-grams shared with a held-out benchmark (every 50th doc).",
    shape=Shape(has=("BroadcastHashJoin", "LeftSemi"), lacks=("SortMergeJoin",)),
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
    doc="Per-doc top 2-gram count and a repetitive flag (top 2-gram >= 10% of 2-grams).",
    shape=Shape(lacks=("Generate",), max_exchanges=3),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The oracle explodes and groups every 2-gram; here an array_sort +
    # aggregate() fold finds each doc's mode inside the row.
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
    doc="Per-label embedding centroids, one row per (label, dimension).",
    shape=Shape(has=("partial_avg", "Generate")),
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread(): the per-row work is one posexplode + partial
    # avg — map-side-reducing from the first operator, so the
    # unconditional round-robin repartition moved every vector across
    # the wire to parallelize ~nothing (A/B at sf0.1: 0.66 -> 0.23 s;
    # at scale the scan's own splits give the width).
    # round(4) absorbs partial-aggregate summation-order noise (~1e-13
    # relative), far from any rounding boundary for N(0,1) data.
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
    doc="Per-event-type z-score outlier census (|z| > 3) over one unbounded window.",
    shape=Shape(has=("Window",), lacks=("SinglePartition",)),
)
def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A dominant event_type lands in one window partition; q_zscore_moments
    # is the skew-safe twin.
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
    doc="Shared distinct 8-token shingles per source pair, beside each source's shingle count.",
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pairs come from each shingle's sorted source set, not a self-join:
    # a self-join evaluates the explode+md5+distinct subtree per side.
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
    doc="Per-doc mean unigram log-probability under the corpus's own unigram model.",
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ln + round(4) is the q_tfidf cross-engine-stable pattern.
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
    doc="Per-source head/middle/tail tertiles of docs by unigram likelihood, with score ranges.",
    shape=Shape(has=("windowspecdefinition(source",), max_exchanges=1),
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
            # a decimal output column would make this the only
            # recorded-window query emitting one — a value-hash dtype no
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
# Source-mixture divergence census
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
    doc="Per-source unigram cross-entropy, entropy and KL vs the corpus, in micro-nats.",
    shape=Shape(
        has=(
            "BroadcastHashJoin [term",
            "Exchange hashpartitioning(source",
            "partial_sum",
            "BroadcastNestedLoopJoin",
        ),
        max_exchanges=7,
    ),
)
def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    doc="Per-event-type z-score outlier census from groupBy moments joined back to the events.",
    shape=Shape(has=("BroadcastHashJoin", "partial_avg"), lacks=("SortMergeJoin", "Window")),
)
def q_zscore_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The groupBy twin of q_zscore_outliers: moments merge map-side, so a
    # hot event_type never lands in one window partition.
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
    doc="Packing efficiency per source and overall: straddlers, wasted tokens, mean fill.",
    shape=Shape(has=("windowspecdefinition(source", "Exchange hashpartitioning(source")),
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
    doc="Top smoothed TF-IDF scores of (doc, term) pairs.",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round(4) absorbs libm-vs-JVM ln last-ulp drift.
    d = _t(spark, sf_dir, "documents")
    # tf folded from the staged doc_term_tf artifact
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
    doc="Near-duplicate families: connected components of the shared-shingle graph.",
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Building this plan runs Spark jobs: the fixpoint's per-round
    # convergence counts and localCheckpoint rounds.
    return cluster_labels(spark, sf_dir).groupBy(
        F.col("comp").alias("cluster_id")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


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
    doc="Deterministic per-source hash sample: keep a doc iff its md5 prefix < its threshold.",
    shape=Shape(lacks=("Exchange", "Join")),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-width lowercase hex compares lexicographically == numerically,
    # so both engines draw the same sample; weight 1.0 maps to 'g', above
    # every hex digit.
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
    doc="A capped per-source sample of docs in deterministic md5-hash order.",
    shape=Shape(
        has=(
            f"row_number(), {GROUP_SAMPLE_N}, Partial",
            f"row_number(), {GROUP_SAMPLE_N}, Final",
        )
    ),
)
def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5 order is the reproducible form of ORDER BY rand() LIMIT N per
    # group, and both engines draw the same members.
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
    doc="Exact-content dedup keeping the preferred source's copy: kept and lost per source.",
    shape=Shape(has=("Exchange hashpartitioning(fp", "windowspecdefinition(fp")),
)
def q_source_priority_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Priority is the source's numeric rank, tie-broken by doc_id so the
    # order is total.
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
    doc="Deterministic 12:2:2 train/val/test split by md5; docs and tokens per source x split.",
    shape=Shape(has=("partial_",), lacks=("Join", "Window")),
)
def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The first md5-hex nibble is the uniform variate (the q_mixture_sample
    # convention): a re-run never moves a doc across splits.
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
    doc="Doc counts per power-of-two token-length bucket.",
    shape=Shape(has=("partial_",), lacks=("Join", "Window")),
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The bucket floor is 2^(bitlength-1) via bin(): floor(log2(x))
    # misassigns exact powers of two on some libms.
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
    doc="The corpus minus docs whose 4-gram overlap with the benchmark reaches the threshold.",
    shape=Shape(has=("BroadcastHashJoin", "LeftSemi", "LeftAnti")),
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
    doc="Per eval split, the docs whose content md5 also appears in train.",
    shape=Shape(has=("partial_",), lacks=("Join",)),
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

    One global census exploded into per-split rows, not a per-split
    union, which would rescan and reshuffle once per split; the
    per-fingerprint conditional counts already see both sides of the
    boundary, so no join is needed.
    """
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
    doc="Exact Jaccard of every doc pair sharing >= 3 distinct 8-token shingles.",
)
def q_neardup_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pair scores over the shingle-fingerprint graph.

    The LSH tiers (minhash/simhash/ngram-jaccard — oracle-backed
    via engine-neutral md5_60 hashing) are approximate by
    design; this query is the exact tier a curation run uses to
    AUDIT their recall: the same
    candidate edges q_dup_clusters clusters (docs sharing >=
    CLUSTER_MIN_SHARED 8-token md5 shingle fingerprints), each scored
    with its true Jaccard over distinct shingle sets.

    |A∩B| is free — it IS the edge's ``shared`` count; |A∪B| comes
    from the per-doc distinct-fingerprint census joined twice onto
    the edge list. Both the edge list and the size census derive from
    the SAME fingerprint-grouped frame (each fp's deduped member-id
    array): edges explode its a<b pairs, sizes explode its ids.
    Reference parity: the duplicate-detection design of nb:150-160
    (exact drop_duplicates) extended to graded near-duplicates.
    """
    # The staged per-fp member frame: edges AND the size census
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
    doc="Top-20 docs by the share of their distinct 8-token shingles found in another doc.",
    shape=Shape(has=("TakeOrderedAndProject", "partial_")),
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

    n_shared is computed through its COMPLEMENT, which de-skews it. A
    fingerprint is shared iff it appears in >=2 documents, so per doc

        n_shared = n_grams - |fps globally unique to this doc|

    and a globally-unique fp's owner is recoverable inside the same
    aggregate that counts it (min(doc_id) over its single row). So a
    boilerplate fingerprint shared by every document costs one
    aggregate counter, never a window partition or a hot join key: a
    per-fp count window inherited the boilerplate-shingle skew
    q_source_overlap documents. The census is LINEAR in corpus
    shingles where the pair graph is quadratic in duplicated docs.
    Reuses the exact 8-gram md5 fingerprint construction
    parity-proven by q_source_overlap / q_contamination.

    Reference parity: the reference's duplicate analysis (nb:150-160
    keep-first dedup; Seccion_1_Excel top-20 duplicates) lifted from
    row identity to CONTENT overlap, per document.
    """
    # Both censuses fold the staged fp8_ids artifact: a doc's
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
    doc="Train/val split keyed on each exact-duplicate group's representative, censused.",
    shape=Shape(has=("partial_",), lacks=("Window", "Join")),
)
def q_group_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware split assignment (SURVEY §2.11).

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

    Groups key on md5(text), so fingerprints, never raw text, are
    shuffled.

    Reference parity: the reference's keep-first dedup (nb:150-160,
    `drop_duplicates`) composed with a reproducible sampling rule —
    the reference dedups THEN samples; this shows the composition
    that stays leakage-safe when you must sample without fully
    deduplicating.
    """
    # no spread(): one md5 per row straight into a map-side
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
    doc="Per-source unigram Shannon entropy in fixed-point nats x 1e6.",
)
def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        # Folded from the shared doc_term_tf artifact: the
        # token-stream explode is paid once for the whole term
        # family; this census is its per-source regrouping.
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
    doc="Per-source census of token spans that occur in two or more distinct docs.",
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_span_census(spark, sf_dir)
