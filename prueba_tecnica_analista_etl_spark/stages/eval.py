"""Eval stages: the benchmark holdout and its contamination probe,
the deterministic hash split and sample thresholds, the staged scored
frames the eval censuses fold, and nearest-rank quantile selection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import (
    census_artifact,
    corpus_artifact,
)
from prueba_tecnica_analista_etl_spark.operators.rank import (
    bucket_totals,
    numeric_bucket,
)
from prueba_tecnica_analista_etl_spark.sources.tables import _t
from prueba_tecnica_analista_etl_spark.stages.text import doc_grams4_frame


# Contamination screen: ≥1 shared benchmark gram marks a doc as touched
# (raw count, kept for trend monitoring), but the DECONTAMINATION
# decision uses a threshold — single-gram overlap is mostly generic
# phrases. CONTAM_MIN_HITS distinct shared grams flags a doc for drop.
CONTAM_MIN_HITS = 3


# Every BENCH_MOD-th doc (by id) stands in for the held-out evaluation
# benchmark. The oracle SQL spells it out as ``% 50``.
BENCH_MOD = 50


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
    return corpus_artifact(
        spark,
        sf_dir,
        f"bench_grams4:m{BENCH_MOD}",
        lambda: benchmark_grams(doc_grams4_frame(spark, sf_dir)),
    )


def split_col() -> Column:
    """Deterministic train/val/test assignment of ``doc_id``: its first
    md5-hex nibble, < 'c' train (12/16), < 'e' val (2/16), else test."""
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return F.when(nib < "c", "train").when(nib < "e", "val").otherwise("test")


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


# Value buckets of the distributed rank and prefix-sum censuses.
_RANK_BUCKETS = 1024


def _value_bucket_census(spark, sf_dir, name, g, sum_cols):
    """(lo, hi, per-bucket totals) census for a per-distinct-`value`
    frame ``g`` — the bucketed_prefix_sums inputs, staged once per
    corpus like q_global_rank's histogram. None when ``g`` is empty."""

    def build():
        lo, hi = g.agg(F.min("value"), F.max("value")).first()
        if lo is None:
            return None
        b = numeric_bucket(F.col("value"), lo, hi, _RANK_BUCKETS)
        return lo, hi, bucket_totals(g, b, sum_cols)

    return census_artifact(spark, sf_dir, name, build)


def _eval_day_value_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, value, cnt, pos, clk) over non-NULL-score events — the
    eval-census family's shared scored frame, staged ONCE per corpus
    (the doc_term_tf discipline): day = ts::date (NULL kept for
    NULL ts, so the global censuses lose no rows), cnt/pos/clk the
    row/purchase/click counts at that (day, value). Every eval query
    previously re-scanned events and re-derived its own projection
    per invocation; they all fold from this collapsed frame instead
    — strictly smaller than events and 5 narrow columns wide, the
    §8 'decide with small rows' proxy. Exact-integer contents, so
    every fold re-aggregates bit-identically."""

    def build() -> DataFrame:
        ev = _t(spark, sf_dir, "events").filter(
            F.col("value").isNotNull()
        )
        return ev.groupBy(
            F.col("ts").cast("date").alias("day"), "value"
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.when(F.col("event_type") == "purchase", F.lit(1))
                .otherwise(0)
                .cast("long")
            ).alias("pos"),
            F.sum(
                F.when(F.col("event_type") == "click", F.lit(1))
                .otherwise(0)
                .cast("long")
            ).alias("clk"),
        )

    return corpus_artifact(spark, sf_dir, "eval_scored_day_value", build)


def _eval_value_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(value, cnt, pos, clk) — the day-collapsed sibling of
    :func:`_eval_day_value_frame` (folded from it at build time, so
    the corpus is scanned once for both): one row per distinct score,
    already at the granularity q_eval_auc / q_ks_distance /
    q_calibration_bins group to — serving it staged removes their
    per-invocation groupBy(value) exchange as well as the scan."""

    def build() -> DataFrame:
        return (
            _eval_day_value_frame(spark, sf_dir)
            .groupBy("value")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.sum("pos").alias("pos"),
                F.sum("clk").alias("clk"),
            )
        )

    return corpus_artifact(spark, sf_dir, "eval_scored_value", build)


def rank_pick(p: float, name: str) -> Column:
    """The nearest-rank ``p`` quantile of ``value`` over a group's
    rows numbered ``rn`` = 1..``n``: the row at rank floor(p·(n-1))+1.
    Discrete, not interpolated: the rank is one IEEE multiply of
    identical operands, the same integer in every engine, and selecting
    a value by rank leaves no interpolation arithmetic to disagree on."""
    rank = F.floor(F.lit(p) * (F.col("n") - 1)).cast("long") + 1
    return F.max(F.when(F.col("rn") == rank, F.col("value"))).alias(name)


# Misra-Gries counters per partition of the heavy-hitter censuses: a
# key is heavy above n/(capacity+1) rows.
_HH_CAPACITY = 8


def event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-NULL ``event_type`` column of ``events``: the rows the
    heavy-hitter censuses count."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("event_type")
    )


def heavy_hitter_recount(ev: DataFrame, cand) -> DataFrame:
    """(event_type, cnt, share) of the candidate keys ``cand`` that
    hold more than n/(_HH_CAPACITY+1) of ``ev``'s rows, counted
    exactly. The threshold is an integer compare and ``share`` one
    closing division, so the result equals the SQL oracle's."""
    tot = ev.agg(F.count(F.lit(1)).alias("n"))
    # no spread(): the recount is a pushed isin filter + a map-side
    # partial aggregate — a round-robin repartition would be a full
    # fact-table shuffle with nothing to parallelize.
    exact = (
        ev.filter(F.col("event_type").isin(list(cand)))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * (_HH_CAPACITY + 1) > F.col("n"))
        .select(
            "event_type",
            "cnt",
            (F.col("cnt").cast("double") / F.col("n").cast("double")).alias(
                "share"
            ),
        )
        .orderBy(F.desc("cnt"), F.asc("event_type"))
    )
