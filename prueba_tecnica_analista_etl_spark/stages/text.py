"""Text stages: the staged per-doc term, gram, span and fingerprint
frames that the term family folds, the BM25 per-doc frame, the
unigram-LM scored frame with its exact-integer logarithm, and the
sequence pack plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import corpus_artifact
from prueba_tecnica_analista_etl_spark.functions.text import (
    shingles,
    winnow_fingerprints,
)
from prueba_tecnica_analista_etl_spark.sources.tables import _t, spread


def doc_term_tf_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, term, tf) over ``documents`` — lower+space
    tokens, empties dropped — staged ONCE per corpus: the term
    family's shared feature frame. q_tfidf (tf side), q_token_histogram
    (term census), q_inverted_index (distinct doc-term pairs ARE these
    rows), the unigram-LM scored frame and the per-source entropy
    census all fold this artifact instead of each re-running the
    corpus explode+groupBy. O(doc-term pairs) rows — the collapsed
    frame every one of those queries built privately before."""

    def build() -> DataFrame:
        d = _t(spark, sf_dir, "documents")
        return (
            spread(d)
            .select(
                "doc_id",
                "source",
                F.explode(
                    F.split(F.lower(F.col("text")), " ")
                ).alias("term"),
            )
            .filter(F.col("term") != "")
            .groupBy("doc_id", "source", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )

    return corpus_artifact(spark, sf_dir, "doc_term_tf", build)


def _winnow_fp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fps) — the per-doc winnowing fingerprint SET, staged
    ONCE per corpus (the lsh_sigs treatment: the fingerprint
    column is the at-rest feature a winnowing index serves from; the
    md5-shingle + Arrow sliding-min chain was the last per-call
    hash-feature stage not staged). The cold build keeps the spread
    (heavy per-row compute) and its Arrow
    stage stays pinned by test_staged_builders_keep_their_arrow_stages;
    consumers fold censuses from the stored arrays."""

    def build() -> DataFrame:
        d = spread(_t(spark, sf_dir, "documents"))
        return d.select(
            "doc_id",
            winnow_fingerprints(F.col("text")).alias("fps"),
        )

    return corpus_artifact(spark, sf_dir, "winnow_fps:k3w4", build)


# BM25 retrieval constants: k1=1.2, b=0.75 (the universal defaults).
# q_bm25's integer-grid score encodes them exactly as the rational
# 22/10 (=2.2=k1+1), 3/10 (=0.3=k1*(1-b)) and 9/10 (=0.9=k1*b).
BM25_QUERY_TERMS = ("spark", "table", "hash")


def _bm25_per_doc_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, dl, tf_0..tf_k) for the fixed BM25 query-term
    set — staged ONCE per corpus (the bench_grams4 discipline:
    the benchmark term set is part of the key, so retuning the terms
    rebuilds). q_bm25 used to evaluate this projection TWICE per
    invocation (census + scoring legs re-tokenized the corpus each
    time, and Catalyst cannot reuse the exchange across the legs'
    differently-pruned subtrees); both legs now fold the collapsed
    O(docs)-row frame — zero corpus scans per call, scoring stays
    map-only over it."""

    def build() -> DataFrame:
        d = _t(spark, sf_dir, "documents")
        toks = F.filter(
            F.split(F.lower("text"), " "), lambda x: x != F.lit("")
        )

        def tf_of(term: str) -> Column:
            # NB: a `lambda x, t=term:` closure would read as a
            # TWO-arg higher-order function, and pyspark passes the
            # array INDEX as the second argument — silently
            # overriding the default.
            return F.size(
                F.filter(toks, lambda x: x == F.lit(term))
            ).cast("long")

        return (
            spread(d)
            .select(
                "doc_id",
                "source",
                F.size(toks).cast("long").alias("dl"),
                *[
                    tf_of(t).alias(f"tf_{i}")
                    for i, t in enumerate(BM25_QUERY_TERMS)
                ],
            )
            .filter(F.col("dl") > 0)
        )

    tag = "_".join(BM25_QUERY_TERMS)
    return corpus_artifact(spark, sf_dir, f"bm25_per_doc:{tag}", build)


# Context window of the pack plan: a power of two, so every
# ``tokens/512`` double division is exact in binary.
CTX_TOKENS = 512


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


def doc_grams4_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 4-token shingle stream over ``documents`` — (doc_id,
    source, grams array, n_grams), staged ONCE per corpus: the
    contamination screen and the decontamination filter both explode
    this artifact instead of each re-running tokenize+shingle over
    the corpus. Arrays keep duplicates (the consumers' distinct
    semantics differ and are applied downstream). Storage trade at
    100 TB: grams materialize ~4x the text bytes, paid once and
    column-pruned on read; both consumers' remaining cost is their
    own gram-keyed aggregation, which the artifact cannot remove."""

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


def _unigram_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log-probability frame: (doc_id, source,
    logprob). Shared by q_unigram_logprob (corpus census) and
    q_perplexity_buckets (CCNet-style head/middle/tail split) — and
    MEMOIZED as a per-corpus artifact (artifacts.corpus_artifact):
    one row per doc, the ideal staged-artifact shape, so the two
    consumers pay the tokenize/tf/vocab pipeline once per corpus, not
    once each (the cached_minhash_pairs pattern; building the first
    consumer's plan therefore runs Spark jobs eagerly)."""
    return corpus_artifact(
        spark,
        sf_dir,
        "unigram_scored",
        lambda: _unigram_scored_build(spark, sf_dir),
    )


# Exact-integer fixed-point logarithm (shared by the Spark build and
# the DuckDB oracle in plans.extensions_pipeline).  ``nlp6(total, cnt)`` approximates
# ln(total/cnt)*1e6 (max observed error < 3 grid units) using ONLY
# 64-bit integer arithmetic, so every engine computes bit-identical
# values by construction — quantizing a RUNTIME ``ln`` onto the grid
# is not enough: a 1-ulp libm disagreement at a grid boundary flipped
# q_perplexity_buckets' driver hash.  Algorithm (the q_length_histogram binary-length trick
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
      path — a single quantized runtime ``ln`` still flipped the
      driver hash when the JVM's and DuckDB's libm disagreed by 1 ulp
      at a 1e-6 grid boundary.  ``sum(tf * nlp6)`` and ``sum(tf)``
      stay 64-bit integer arithmetic: identical in every engine
      regardless of accumulation order.  nlp6 is computed once per
      DISTINCT TERM on the vocab frame (O(|vocab|) folds), not per
      doc-term row.
    """
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


# ---------------------------------------------------------------------------
# Duplicate-span census — substring-level dedup signal
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


def dup_span_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source census of the spans that occur in two or more
    distinct docs (q_dup_spans; pretrain_run's span signal)."""
    # The span stream is staged once per corpus, so every substring
    # consumer reads it rather than re-exploding the corpus.
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
