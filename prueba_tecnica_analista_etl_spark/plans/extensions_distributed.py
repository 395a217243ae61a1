"""Distributed-algebra extension queries.

Each query here demonstrates a SCALE PATTERN that naive SQL gets wrong
at 100 TB, expressed so the result is still exactly ANSI-SQL-checkable
against the DuckDB oracle:

* ``q_global_rank``      — global RANK() without a SinglePartition
                           window: bucket histogram + offset broadcast
                           (operators/rank.py).
* ``q_train_order``      — reproducible seeded global shuffle order
                           for training emission (same rank pattern,
                           md5-prefix buckets).
* ``q_incremental_agg_merge`` — materialized-aggregate delta refresh:
                           merge(partial states) == full re-aggregation.
* ``q_bloom_semi_join``  — semi-join reduction: a broadcast bitset
                           prefilter drops non-matching fact rows
                           BEFORE the join shuffle (operators/bloom.py).
* ``q_inverted_index``   — term → (df, posting list) with the posting
                           cap applied DURING the sort (WindowGroupLimit).
* ``q_winsorize``        — per-group percentile clamp with explicit
                           integer rank arithmetic (cross-engine exact).
* ``q_filter_funnel``    — multi-stage quality-gate survival census in
                           one pass (conditional aggregation).
* ``q_unpivot_long``     — wide→long reshape (the q_pivot_wide
                           inverse): map-only column explosion, no
                           shuffle beyond the source aggregate.
* ``q_rolling_distinct`` — trailing 7-day DISTINCT-user census (the
                           rolling-MAU shape): dedup + bounded range
                           expansion instead of a per-row DISTINCT
                           window frame no engine can shard.
* ``q_eval_auc``         — tie-adjusted Mann-Whitney AUC of a score
                           column vs a binary label in exact integer
                           rank-sum arithmetic; the global cumulative
                           count uses the histogram scheme generalized
                           to prefix SUMS (bucketed_prefix_sums).
* ``q_ks_distance``      — two-sample Kolmogorov-Smirnov distance
                           between two sources' score distributions:
                           max |F1-F2| cross-multiplied into integers
                           (|cum_a*n_b - cum_b*n_a|), same distributed
                           prefix-sum frame.
* ``q_calibration_bins`` — reliability-diagram decile census: map-only
                           equal-width binning (bounds broadcast from a
                           one-row aggregate), per-bin count/positives/
                           rate; mean score deliberately omitted (a
                           reassociating double SUM is not
                           cross-engine stable).
* ``q_eval_auc_daily``   — per-day AUC drift census: the rank-sum
                           identity per calendar day; the cumulative
                           partitions BY DAY, so it is natively
                           shardable — the deliberate contrast with
                           the global form's bucketed scheme.

Reference parity: these generalize the reference's §3 aggregate /
quality-audit designs (seccion3_sql.sql:85-210 staging audits,
nb:287-340 statistical profile) to cluster-scale idioms; none change
WHAT is computed — the oracle for every query is plain SQL.

Hash-stability follows plans/queries.py's conventions: pass-through
doubles never rounded, computed money sums via DECIMAL(18,2), rank /
count outputs are integers, percentile ranks in pure integer
arithmetic (``(n+19) div 20``), never ``ceil(0.05*n)`` whose binary
0.05 could straddle an integer boundary differently per engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import (
    census_artifact,
    corpus_artifact,
)
from prueba_tecnica_analista_etl_spark.operators.bloom import (
    bitset_semi_join,
    bitset_words,
)
from prueba_tecnica_analista_etl_spark.operators.rank import (
    bucket_histogram,
    bucketed_prefix_sums,
    bucketed_rank,
    md5_prefix_bucket,
    numeric_bucket,
)
from prueba_tecnica_analista_etl_spark.operators.sketch import (
    MGStreamAccumulator,
    mg_candidates,
)
from prueba_tecnica_analista_etl_spark.plans.queries import (
    Shape,
    dec2,
    money_sum,
    query,
)
from prueba_tecnica_analista_etl_spark.sources.tables import _t, spread
from prueba_tecnica_analista_etl_spark.stages.eval import (
    _HH_CAPACITY,
    _RANK_BUCKETS,
    _eval_day_value_frame,
    _eval_value_frame,
    _value_bucket_census,
    event_types,
    heavy_hitter_recount,
)
from prueba_tecnica_analista_etl_spark.stages.text import doc_term_tf_frame
from prueba_tecnica_analista_etl_spark.streaming.replay import (
    replay_as_stream,
    write_replay_files,
)

# ---------------------------------------------------------------------------
# Global rank without a single-partition window
# ---------------------------------------------------------------------------


@query(
    "q_global_rank",
    """
    SELECT event_id, value,
           RANK() OVER (ORDER BY value) AS global_rank
    FROM events
    WHERE value IS NOT NULL
    """,
    doc="Global RANK() of events by value: per-bucket ranks plus literal bucket offsets.",
    shape=Shape(
        has=("windowspecdefinition(__rank_bucket", "element_at"),
        lacks=("Exchange SinglePartition", "BroadcastExchange"),
    ),
)
def q_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global rank over ``events.value`` as a two-pass distributed plan.

    ``RANK() OVER (ORDER BY value)`` in one window forces every row
    through a single reducer — the canonical 100 TB scale-killer. The
    distributed form:

    1. bucket each row by a fixed value-range grid;
    2. collect the per-bucket histogram — bounded at ``_RANK_BUCKETS``
       rows regardless of data size (a census-sized collect, same class
       as the IVF model in functions/vectors.py);
    3. rank WITHIN buckets and add each bucket's cumulative offset.

    Ties are safe across the seam: equal values land in the same
    bucket, so ``offset + rank_within_bucket`` equals the global RANK
    exactly (operators/rank.py proves the seam invariants). Bucket
    boundaries are engine-internal (the oracle never sees them), so
    double arithmetic in the bucketing is harmless.
    """
    # NULL measurements are excluded EXPLICITLY in both engines: their
    # rank placement is an engine default (Spark NULLS FIRST, DuckDB
    # NULLS LAST), exactly the ambiguity a declared query must not
    # leave to chance; bucketed_rank refuses NULL keys for the same
    # reason.
    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "value")
        .filter(F.col("value").isNotNull())
    )

    # The (bounds, histogram) pair is a CENSUS ARTIFACT of the corpus
    # — computed once per (session, sf_dir) and reused by every
    # invocation, exactly like the unigram score frame / IVF model.
    def build():
        lo, hi = ev.agg(F.min("value"), F.max("value")).first()
        if lo is None:  # zero surviving rows
            return None
        b = numeric_bucket(F.col("value"), lo, hi, _RANK_BUCKETS)
        return lo, hi, bucket_histogram(ev, b)

    census = census_artifact(spark, sf_dir, "global_rank_census", build)
    if census is None:  # rank of nothing is nothing
        return ev.select(
            "event_id", "value", F.lit(None).cast("long").alias("global_rank")
        )
    lo, hi, hist = census
    return bucketed_rank(
        ev,
        numeric_bucket(F.col("value"), lo, hi, _RANK_BUCKETS),
        ["value"],
        method="rank",
        hist=hist,
    ).select("event_id", "value", "global_rank")


_SHUFFLE_SEED = "shuffle-seed-42:"


@query(
    "q_train_order",
    f"""
    SELECT doc_id,
           ROW_NUMBER() OVER (
               ORDER BY md5('{_SHUFFLE_SEED}' || doc_id), doc_id
           ) AS position
    FROM documents
    """,
    doc="Reproducible global training order: docs ranked 1..n by a seeded md5 shuffle key.",
    shape=Shape(has=("windowspecdefinition(__rank_bucket",), lacks=("Exchange SinglePartition",)),
)
def q_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order for training-data emission.

    Training runs need a REPRODUCIBLE corpus-wide shuffle: the same
    seed must yield the same document order on any cluster size, and
    assigning the order must not serialize the corpus through one
    reducer. The shuffle key is ``md5(seed || doc_id)`` (cross-engine
    identical hex, same trick as the sampling operators); the global
    position reuses q_global_rank's histogram pattern with the
    md5-hex PREFIX as the bucket — 256 buckets whose histogram is a
    census-sized collect, uniform by construction (md5 prefixes are
    uniform), so no skew guard is needed. ROW_NUMBER (not RANK)
    semantics hold because the tiebreak (key, doc_id) is a total
    order: ranks within a bucket never collide, and buckets
    partition the keyspace by prefix so offsets compose exactly
    (operators/rank.py).
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    bucket, key = md5_prefix_bucket(F.col("doc_id"), salt=_SHUFFLE_SEED)
    hist = census_artifact(
        spark,
        sf_dir,
        "train_order_hist",
        lambda: bucket_histogram(docs, bucket),
    )
    return bucketed_rank(
        docs.withColumn("skey", key),
        bucket,
        ["skey", "doc_id"],
        method="row_number",
        out_col="position",
        hist=hist,
    ).select("doc_id", "position")


# ---------------------------------------------------------------------------
# Materialized-aggregate delta refresh
# ---------------------------------------------------------------------------

_SPLIT_TS = "2024-01-21 00:00:00"


@query(
    "q_incremental_agg_merge",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
    doc="Materialized-view refresh: base and delta aggregate states merged, equal to a recompute.",
    shape=Shape(has=("partial_",)),
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic merge of partial aggregate states.

    The 100 TB pattern: a per-user aggregate table is maintained
    incrementally — each new batch is aggregated ALONE (touching only
    batch-sized data) and merged into the stored state with the
    aggregate's combine function, instead of re-scanning the full
    history. Here the 'stored state' is events before ``_SPLIT_TS`` and
    the 'delta' is everything after; the oracle recomputes from scratch,
    proving merge == recompute.

    count merges by sum, sum by sum (exact DECIMAL so the merged total
    is bit-identical to the one-pass total regardless of grouping),
    min/max by min/max.
    """
    ev = _t(spark, sf_dir, "events")
    split = F.lit(_SPLIT_TS).cast("timestamp")
    # NULL-ts rows ride the BASE leg explicitly: both range predicates
    # evaluate NULL for them (three-valued logic), so without the
    # isNull() arm they would fall out of BOTH legs and merge !=
    # recompute — the oracle aggregates every row unconditionally.
    in_base = (F.col("ts") < split) | F.col("ts").isNull()

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(dec2(F.col("value"))).alias("total_dec"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    base = state(ev.filter(in_base))
    delta = state(ev.filter(~in_base))
    return (
        base.unionByName(delta)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_dec").cast("double").alias("total_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-style semi-join reduction
# ---------------------------------------------------------------------------

_BLOOM_BITS = 8192  # 128 longs — broadcast as one array literal


@query(
    "q_bloom_semi_join",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_custkey IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    GROUP BY o_orderpriority
    """,
    doc="Semi-join behind a broadcast bitset prefilter on xxhash64(custkey).",
    shape=Shape(has=("BroadcastHashJoin", "LeftSemi")),
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders of BUILDING-segment customers via a bitset runtime filter.

    At 100 TB the semi-join's shuffle of the FACT side dominates; the
    fix is a runtime filter: hash the dim keys into a fixed bitset
    (here: an array-of-longs literal, ``_BLOOM_BITS`` bits total — size
    independent of dim cardinality) and test each fact row against it
    so only probable matches reach the join. False positives are
    removed by the exact semi-join that follows; false negatives are
    impossible (same hash both sides), so the result is exactly the
    plain semi-join the oracle runs.

    The driver-side ``collect`` gathers DISTINCT BUCKET IDS — bounded
    at ``_BLOOM_BITS`` ints no matter how large the dim is
    (operators/bloom.py).
    """
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders")
    words = census_artifact(
        spark,
        sf_dir,
        "bloom_building_custkeys",
        lambda: bitset_words(cust, "c_custkey", _BLOOM_BITS),
    )
    return (
        bitset_semi_join(
            orders, cust, "o_custkey", "c_custkey", bits=_BLOOM_BITS,
            words=words,
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# Per-group winsorization with explicit integer rank arithmetic
# ---------------------------------------------------------------------------


@query(
    "q_winsorize",
    """
    WITH ranked AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events
        WHERE value IS NOT NULL
    ), cuts AS (
        SELECT event_type,
               MAX(n) AS n,
               MAX(CASE WHEN rn = (n + 19) // 20 THEN value END) AS lo_cut,
               MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN value END)
                 AS hi_cut
        FROM ranked GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(MAX(c.n) AS BIGINT) AS n_events,
           MAX(c.lo_cut) AS lo_cut,
           MAX(c.hi_cut) AS hi_cut,
           CAST(SUM(CAST(LEAST(GREATEST(r.value, c.lo_cut), c.hi_cut)
                         AS DECIMAL(18,2))) AS DOUBLE) AS winsorized_sum
    FROM ranked r JOIN cuts c USING (event_type)
    GROUP BY r.event_type
    """,
    doc="Per-group winsorization: values clamped to the exact-rank p05/p95 cut values.",
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamp ``events.value`` per event_type at explicit p05/p95 ranks.

    Percentile CUT SELECTION is where engines diverge: interpolated
    ``percentile()`` does float arithmetic, and ``ceil(0.05*n)`` can
    straddle an integer boundary differently per libm. Here the cut row
    is picked by pure integer arithmetic — ``(n+19) div 20`` and
    ``(19n+19) div 20`` are ceil(n/20) and ceil(19n/20) exactly — and
    the cut VALUES are pass-through doubles (never computed), so the
    clamp is cross-engine bit-exact. NULL measurements are excluded
    EXPLICITLY in both engines (their rank placement is an engine
    default — Spark NULLS FIRST vs DuckDB NULLS LAST — which would
    shift every rn by one and move the cut rows).
    """
    ev = (
        _t(spark, sf_dir, "events")
        .select("event_type", "event_id", "value")
        .filter(F.col("value").isNotNull())
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    grp = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(grp).alias("n"),
    )
    # The cut VALUES are third/fourth whole-partition windows over the
    # SAME hash(event_type) partitioning: Catalyst
    # stacks all four window specs behind ONE exchange, and the final
    # groupBy(event_type) reuses that partitioning too — so the whole
    # query is one scan + one exchange, vs the former two scans + a
    # cuts groupBy + broadcast join-back (plan: 2 Exchange + 2 Scan ->
    # 1 Exchange + 1 Scan; same clamp arithmetic, identical output).
    with_cuts = ranked.select(
        "event_type",
        "value",
        "n",
        F.max(
            F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("value"))
        )
        .over(grp)
        .alias("lo_cut"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(19 * n + 19) div 20"), F.col("value")
            )
        )
        .over(grp)
        .alias("hi_cut"),
    )
    clamped = F.least(
        F.greatest(F.col("value"), F.col("lo_cut")), F.col("hi_cut")
    )
    return with_cuts.groupBy("event_type").agg(
        F.max(F.col("n")).alias("n_events"),
        F.max("lo_cut").alias("lo_cut"),
        F.max("hi_cut").alias("hi_cut"),
        F.sum(dec2(clamped)).cast("double").alias("winsorized_sum"),
    )


_POSTINGS_CAP = 8


@query(
    "q_inverted_index",
    f"""
    WITH pairs AS (
        SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ) WHERE term <> ''
    )
    SELECT term,
           COUNT(*) AS df,
           array_to_string(
             list_slice(list(doc_id ORDER BY doc_id), 1, {_POSTINGS_CAP}),
             ',') AS postings
    FROM pairs
    GROUP BY term
    ORDER BY df DESC, term
    LIMIT 20
    """,
    doc="Top-20 terms by document frequency, each with its capped, ordered posting list.",
    shape=Shape(has=("WindowGroupLimit", "TakeOrderedAndProject")),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the documents table: term → (df, postings).

    The retrieval-side artifact the BM25/TF-IDF queries score against.
    The posting list is capped BEFORE aggregation by a rank filter
    (``row_number() <= cap``, which Catalyst rewrites to
    WindowGroupLimit), so a stopword's aggregation buffer holds at most
    ``_POSTINGS_CAP`` entries; ``collect_list`` over the full posting
    set would be the unbounded-row skew case the LSH family also
    guards against. (df DESC, term) is a total order because term is
    unique per row.
    """
    # Postings serialize to a comma-joined string: the driver's value hash
    # is proven on scalar dtypes only, and array stringification differs
    # across engines.
    # the artifact's rows ARE the distinct (doc_id, term) pairs (one
    # row per doc-term, tf >= 1), mirroring the oracle's DISTINCT
    pairs = doc_term_tf_frame(spark, sf_dir).select("doc_id", "term")
    df_counts = pairs.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("term").orderBy("doc_id")
    postings = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _POSTINGS_CAP)
        .groupBy("term")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("doc_id")).cast(
                    "array<string>"
                ),
                ",",
            ).alias("postings")
        )
    )
    return (
        df_counts.join(postings, "term")
        .orderBy(F.desc("df"), "term")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Quality-gate survival funnel
# ---------------------------------------------------------------------------


@query(
    "q_filter_funnel",
    """
    SELECT * FROM (
        SELECT 0 AS stage, 'all' AS gate, COUNT(*) AS survivors
        FROM documents
        UNION ALL
        SELECT 1, 'lang_known', COUNT(*) FROM documents
        WHERE lang IS NOT NULL AND lang <> ''
        UNION ALL
        SELECT 2, 'length_ok', COUNT(*) FROM documents
        WHERE lang IS NOT NULL AND lang <> ''
          AND n_chars BETWEEN 80 AND 6000
        UNION ALL
        SELECT 3, 'has_terminal_punct', COUNT(*) FROM documents
        WHERE lang IS NOT NULL AND lang <> ''
          AND n_chars BETWEEN 80 AND 6000
          AND (text LIKE '%.' OR text LIKE '%!' OR text LIKE '%?')
    )
    ORDER BY stage
    """,
    doc="Cumulative survival census of the corpus quality gates.",
)
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival counts through cumulative quality gates over documents.

    The naive form scans the corpus once PER GATE (the oracle's UNION
    ALL does exactly that — fine for DuckDB at sf0.01, catastrophic at
    100 TB). The engine form computes every cumulative gate as a
    conditional aggregate, then explodes the four counters into rows.
    Mirrors the RefinedWeb/Gopher-style pipeline-stage
    reporting a training-data curation run needs.
    """
    docs = _t(spark, sf_dir, "documents")
    g1 = F.col("lang").isNotNull() & (F.col("lang") != "")
    g2 = g1 & F.col("n_chars").between(80, 6000)
    g3 = g2 & (
        F.col("text").endswith(".")
        | F.col("text").endswith("!")
        | F.col("text").endswith("?")
    )
    counts = docs.agg(
        F.count("*").alias("c0"),
        F.count_if(g1).alias("c1"),
        F.count_if(g2).alias("c2"),
        F.count_if(g3).alias("c3"),
    )
    stages = F.array(
        F.struct(F.lit(0).alias("stage"), F.lit("all").alias("gate"),
                 F.col("c0").alias("survivors")),
        F.struct(F.lit(1).alias("stage"), F.lit("lang_known").alias("gate"),
                 F.col("c1").alias("survivors")),
        F.struct(F.lit(2).alias("stage"), F.lit("length_ok").alias("gate"),
                 F.col("c2").alias("survivors")),
        F.struct(F.lit(3).alias("stage"),
                 F.lit("has_terminal_punct").alias("gate"),
                 F.col("c3").alias("survivors")),
    )
    return (
        counts.select(F.explode(stages).alias("s"))
        .select("s.stage", "s.gate", "s.survivors")
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# Wide -> long reshape (the pivot inverse)
# ---------------------------------------------------------------------------


@query(
    "q_unpivot_long",
    """
    SELECT o_orderpriority, status, cnt FROM (
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS F,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                    AS BIGINT) AS O,
               CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                    AS BIGINT) AS P
        FROM orders GROUP BY o_orderpriority
    ) UNPIVOT (cnt FOR status IN (F, O, P))
    """,
    doc="Wide-to-long reshape: the order priority x status pivot unpivoted.",
    shape=Shape(has=("Expand",), lacks=("Join",)),
)
def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long reshape: unpivot the q_pivot_wide matrix back to
    (priority, status, cnt) rows.

    Completes the reshape algebra: pivot (long -> wide,
    operators/pivot.py) now has its inverse in the declared set, and
    ``unpivot(pivot(x))`` round-trips exactly because the pivot's
    explicit value list + zero-fill makes the matrix dense (the test
    suite pins the round-trip; reference parity: the workbook's
    cross-tab views, FIXTURES.md pivot family, xlsx §1).

    DuckDB's UNPIVOT default drops NULL cells; Spark's keeps them —
    irrelevant here by construction (zero-fill above), but a
    declared-semantics trap worth this comment for the next wide->long
    query.
    """
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            *[
                F.coalesce(F.col(c), F.lit(0)).alias(c)
                for c in ("F", "O", "P")
            ],
        )
    )
    return wide.unpivot(
        ["o_orderpriority"], ["F", "O", "P"], "status", "cnt"
    )


# ---------------------------------------------------------------------------
# Trailing-window distinct census (rolling MAU/WAU)
# ---------------------------------------------------------------------------


@query(
    "q_rolling_distinct",
    """
    WITH ud AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events WHERE user_id IS NOT NULL
    ),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS users_7d
    FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
    doc="Trailing 7-day distinct-user count per day (rolling weekly active users).",
    shape=Shape(has=("BroadcastHashJoin", "Generate"), lacks=("BroadcastNestedLoopJoin",)),
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users seen in the trailing 7 days, per day (rolling WAU).

    The dashboard shape behind every DAU/WAU/MAU panel. No engine
    allows ``COUNT(DISTINCT) OVER (RANGE ...)`` — and even if one did,
    a per-row distinct frame re-counts each window from scratch. The
    distributed form:

    1. dedup events to (day, user_id), so the frame that every later
       step touches is O(users x active-days), not O(events);
    2. explode each (day, user) row into the 7 anchor days it
       contributes to (``sequence(day, day+6)``, a fixed x7 fan-out),
       then equi-join the anchor against the census-sized day grid to
       keep only anchors that exist in the data. The naive form is a
       range join — which Spark can only
       execute as a BroadcastNestedLoopJoin evaluating the BETWEEN
       predicate against every grid row per fact row, O(|ud| x |days|)
       comparisons; the explode form is O(|ud| x 7) rows into an
       equi-join, unchanged as history grows from a month to years;
    3. count_distinct per anchor day, skew-bounded because no day
       holds more than |users| rows.

    At 100 TB the exact form's cost center is step 2's x7 row
    expansion over the dedup'd frame; when even that is too much, the
    mergeable-sketch twin (approx_count_distinct per day + HLL union
    across the trailing window — operators/dedupe.py:167's sketch
    family) answers the same dashboard within rsd. This is the exact
    oracle-checkable form; NULL users are excluded explicitly in both
    engines (three-valued BETWEEN would drop them asymmetrically
    otherwise).

    Reference parity: generalizes the daily-volume audit
    (seccion3_sql.sql:85-210 staging audits; q_volume_by_day) from
    per-day counts to overlapping-window distincts.
    """
    # The deduplicated (day, user) activity frame is the shared
    # feature every rolling-distinct window reads — staged once per
    # corpus (the doc_term_tf discipline): O(users × active
    # days) rows, strictly smaller than events. The per-call work
    # (×7 anchor explode, day-grid join, per-anchor distinct count)
    # stays live.
    def _build_ud() -> DataFrame:
        return (
            _t(spark, sf_dir, "events")
            .filter(F.col("user_id").isNotNull())
            .select(F.to_date("ts").alias("day"), "user_id")
            .distinct()
        )

    ud = corpus_artifact(spark, sf_dir, "user_day_activity", _build_ud)
    days = ud.select("day").distinct().withColumnRenamed("day", "anchor")
    expanded = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("anchor"),
        "user_id",
    )
    return (
        expanded.join(F.broadcast(days), "anchor")
        .groupBy("anchor")
        .agg(F.count_distinct("user_id").alias("users_7d"))
        .select(F.col("anchor").alias("day"), "users_7d")
    )


# ---------------------------------------------------------------------------
# Evaluation metrics over the distributed prefix-sum frame
# ---------------------------------------------------------------------------


@query(
    "q_eval_auc",
    """
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lab
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT value, COUNT(*) AS cnt, SUM(lab) AS pos
      FROM s GROUP BY value
    ),
    c AS (
      SELECT value, cnt, pos,
             COALESCE(SUM(cnt) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_cnt
      FROM g
    ),
    t AS (
      SELECT CAST(SUM(pos * (2*cum_cnt + cnt + 1)) AS BIGINT) AS r2,
             CAST(SUM(pos) AS BIGINT) AS npos,
             CAST(SUM(cnt) AS BIGINT) AS n
      FROM c
    )
    SELECT npos, n - npos AS nneg,
           CASE WHEN npos * (n - npos) > 0 THEN
             CAST(r2 - npos*(npos+1) AS DOUBLE)
               / CAST(2 * npos * (n - npos) AS DOUBLE)
           END AS auc
    FROM t
    """,
    doc="Tie-adjusted AUC (Mann-Whitney rank sum) in exact integer arithmetic.",
    shape=Shape(
        has=(
            "windowspecdefinition(__rank_bucket",
            "Exchange hashpartitioning(__rank_bucket",
        ),
        max_exchanges=2,
    ),
)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-eval census: AUC of ``events.value`` as a score for the
    binary label ``event_type = 'purchase'`` — the ranking-quality
    metric every training pipeline reports next to its loss.

    The rank-sum identity makes AUC a one-pass aggregate over the
    per-distinct-score frame: with ``cnt``/``pos`` the total/positive
    count at each score and ``cum_cnt`` the count strictly below it,
    the doubled tie-adjusted positive rank sum is ``r2 = sum(pos *
    (2*cum_cnt + cnt + 1))`` (each tied group contributes its average
    rank ``cum_cnt + (cnt+1)/2`` per positive, doubled to stay
    integral), and ``AUC = (r2 - npos*(npos+1)) / (2*npos*nneg)``.

    Every quantity up to the final division is a 64-bit integer
    computed identically in both engines — the SURVEY §2.11
    hash-stability discipline; the single closing division is one
    correctly-rounded IEEE op on identical integers, so the DOUBLE
    output is bit-identical by construction (r2 <= 2n^2 stays inside
    int64 to n ~ 2.1e9 rows; past that, lift r2 to DECIMAL(38,0)).
    Degenerate label distributions (no positives / no negatives) yield
    NULL AUC explicitly in both engines.

    ``SUM() OVER (ORDER BY value)`` — the textbook cumulative —
    serializes the frame through one reducer exactly as global RANK
    does, so the cumulative is bucketed_prefix_sums (operators/rank.py)
    over a per-bucket totals census staged per corpus. NULL scores are
    excluded explicitly in both engines (their rank placement is an
    engine default, q_global_rank's rule).

    Reference parity: extends the reference's §3 quality-audit
    aggregates (seccion3_sql.sql:85-210) with the evaluation-side
    census a curation pipeline needs before shipping a training set.
    """
    # g folds from the staged per-distinct-score frame: the
    # artifact rows ARE the (value, cnt, pos) census the oracle's
    # GROUP BY value produces — zero events scans, zero groupBy
    # exchange per invocation (the corpus is scanned once per CORPUS
    # by the artifact build).
    g = _eval_value_frame(spark, sf_dir).select("value", "cnt", "pos")
    census = _value_bucket_census(spark, sf_dir, "eval_auc_census", g, ["cnt"])
    if census is None:  # empty input: the oracle's aggregate-of-nothing row
        c = g.withColumn("cum_cnt", F.lit(0).cast("long"))
    else:
        lo, hi, totals = census
        c = bucketed_prefix_sums(
            g,
            numeric_bucket(F.col("value"), lo, hi, _RANK_BUCKETS),
            "value",
            ["cnt"],
            hist=totals,
        )
    t = c.agg(
        F.sum(
            F.col("pos") * (2 * F.col("cum_cnt") + F.col("cnt") + 1)
        ).alias("r2"),
        F.sum("pos").alias("npos"),
        F.sum("cnt").alias("n"),
    )
    nneg = F.col("n") - F.col("npos")
    return t.select(
        "npos",
        nneg.alias("nneg"),
        F.when(
            F.col("npos") * nneg > 0,
            (F.col("r2") - F.col("npos") * (F.col("npos") + 1)).cast("double")
            / (2 * F.col("npos") * nneg).cast("double"),
        ).alias("auc"),
    )


@query(
    "q_ks_distance",
    """
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS b
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
    ),
    g AS (SELECT value, SUM(a) AS ca, SUM(b) AS cb FROM s GROUP BY value),
    c AS (
      SELECT value, ca, cb,
             COALESCE(SUM(ca) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_ca,
             COALESCE(SUM(cb) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_cb
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM g
    )
    SELECT na, nb,
           CAST(MAX(ABS((cum_ca + ca) * nb - (cum_cb + cb) * na))
                AS BIGINT) AS ks_num,
           CASE WHEN na * nb > 0 THEN
             CAST(MAX(ABS((cum_ca + ca) * nb - (cum_cb + cb) * na))
                  AS DOUBLE) / CAST(na * nb AS DOUBLE)
           END AS ks
    FROM c CROSS JOIN tot
    GROUP BY na, nb
    """,
    doc="Two-sample Kolmogorov-Smirnov distance in exact cross-multiplied integers.",
    shape=Shape(
        has=(
            "partial_",
            "windowspecdefinition(__rank_bucket",
            "Exchange hashpartitioning(__rank_bucket",
        ),
        max_exchanges=2,
    ),
)
def q_ks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift census: the two-sample Kolmogorov-Smirnov
    distance between the ``purchase`` and ``click`` populations'
    ``value`` distributions — the rank-based companion to
    q_source_divergence's KL (which compares token FREQUENCIES; KS
    compares a numeric column's empirical CDFs, the drift test a
    data-quality gate runs between ingestion batches).

    ``KS = max over values of |F_a(v) - F_b(v)|`` where F is the
    inclusive empirical CDF. Cross-multiplying by the sample sizes
    keeps it integral: ``ks_num = max |cum_a(v)*n_b - cum_b(v)*n_a|``
    over the per-distinct-value frame, with the cumulatives from the
    same bucketed_prefix_sums pattern as q_eval_auc (one shared scan,
    two summed columns, census-sized offsets; cum*n <= n_a*n_b stays
    inside int64 while n_a*n_b < 2^63). The reported ``ks`` divides
    the two exact integers once — bit-identical IEEE result in both
    engines; degenerate inputs (an empty side) yield NULL explicitly.

    Reference parity: generalizes the reference's statistical-profile
    / staging-audit designs (nb:287-340, seccion3_sql.sql:85-210)
    from per-batch scalar checks to a between-population drift test.
    """
    # g folds from the staged per-distinct-score frame: ca/cb
    # are exactly the artifact's purchase/click counts, and the
    # oracle's implicit value set (scores with >= 1 purchase-or-click
    # row) is the pos+clk > 0 filter — zero events scans per
    # invocation.
    g = (
        _eval_value_frame(spark, sf_dir)
        .filter((F.col("pos") + F.col("clk")) > 0)
        .select(
            "value",
            F.col("pos").alias("ca"),
            F.col("clk").alias("cb"),
        )
    )
    census = _value_bucket_census(
        spark, sf_dir, "ks_distance_census", g, ["ca", "cb"]
    )
    if census is None:
        c = g.withColumn("cum_ca", F.lit(0).cast("long")).withColumn(
            "cum_cb", F.lit(0).cast("long")
        )
        tot = g.agg(
            F.sum("ca").alias("na"), F.sum("cb").alias("nb")
        )
    else:
        lo, hi, totals = census
        c = bucketed_prefix_sums(
            g,
            numeric_bucket(F.col("value"), lo, hi, _RANK_BUCKETS),
            "value",
            ["ca", "cb"],
            hist=totals,
        )
        # The census already holds both totals (sum of the per-bucket
        # sums) — driver-known ints, so they ride the plan as
        # LITERALS: a projection, where a one-row createDataFrame
        # would add a broadcast cross join against the census frame.
        tot = None
        na = F.lit(sum(t[0] or 0 for _, t in totals)).cast("long")
        nb = F.lit(sum(t[1] or 0 for _, t in totals)).cast("long")
        c = c.withColumn("na", na).withColumn("nb", nb)
    diff = F.abs(
        (F.col("cum_ca") + F.col("ca")) * F.col("nb")
        - (F.col("cum_cb") + F.col("cb")) * F.col("na")
    )
    return (
        (c if tot is None else c.join(F.broadcast(tot)))
        .groupBy("na", "nb")
        .agg(F.max(diff).alias("ks_num"))
        .select(
            "na",
            "nb",
            "ks_num",
            F.when(
                F.col("na") * F.col("nb") > 0,
                F.col("ks_num").cast("double")
                / (F.col("na") * F.col("nb")).cast("double"),
            ).alias("ks"),
        )
    )


@query(
    "q_calibration_bins",
    """
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lab
      FROM events WHERE value IS NOT NULL
    ),
    b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM s),
    binned AS (
      SELECT CASE WHEN hi > lo THEN
               CAST(LEAST(GREATEST(
                 FLOOR((value - lo) / ((hi - lo) / 10.0)), 0), 9)
                 AS BIGINT)
             ELSE 0 END AS bin,
             lab
      FROM s CROSS JOIN b
    )
    SELECT bin, COUNT(*) AS cnt, CAST(SUM(lab) AS BIGINT) AS pos,
           CAST(SUM(lab) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS pos_rate
    FROM binned GROUP BY bin
    """,
    doc="Reliability diagram: rows, positives and positive rate per equal-width score bin.",
    shape=Shape(has=("BroadcastExchange", "partial_")),
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of ``events.value`` as a purchase score.

    The third leg of the eval-census family (q_eval_auc ranks,
    q_ks_distance drifts, this bins): per equal-width score decile,
    how often the positive label actually occurs — the reliability
    diagram a score consumer reads before thresholding on it.

    Cross-engine determinism without integer grids: the bin index is
    floor((v - lo) / ((hi - lo) / 10.0)) clamped to [0, 9] — every
    intermediate is a SINGLE correctly-rounded IEEE op on identical
    double operands, so both engines compute the identical integer
    (SURVEY §2.11: one-op float chains are exact; it is SUMS and
    reassociable chains that are not). Deliberately NOT reported: the
    per-bin mean score — a multi-row double SUM whose accumulation
    order differs per engine; consumers needing it should quantize
    scores onto an integer grid first (the perplexity discipline).

    Degenerate lo == hi collapses to bin 0 explicitly in both engines.

    Reference parity: the reference's quality-audit conditional
    aggregates (seccion3_sql.sql:85-210) extended to the
    score-vs-outcome census its §3 verdict checks imply.
    """
    # Folds from the staged per-distinct-score frame: the bin
    # index depends on value alone, so binning the (value, cnt, pos)
    # census weighted by its exact-integer counts reproduces the
    # row-level histogram bit-for-bit (sum of longs re-associates
    # exactly; lo/hi over the census equal lo/hi over the rows) —
    # zero events scans per invocation.
    s = _eval_value_frame(spark, sf_dir).select("value", "cnt", "pos")
    b = s.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(10.0)
    binned = s.crossJoin(F.broadcast(b)).select(
        F.when(
            F.col("hi") > F.col("lo"),
            F.least(
                F.greatest(
                    F.floor((F.col("value") - F.col("lo")) / width),
                    F.lit(0),
                ),
                F.lit(9),
            ),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("bin"),
        "cnt",
        "pos",
    )
    return binned.groupBy("bin").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("pos").alias("pos"),
        (
            F.sum("pos").cast("double") / F.sum("cnt").cast("double")
        ).alias("pos_rate"),
    )


@query(
    "q_eval_auc_daily",
    """
    WITH s AS (
      SELECT CAST(ts AS DATE) AS day, value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lab
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    g AS (
      SELECT day, value, COUNT(*) AS cnt, SUM(lab) AS pos
      FROM s GROUP BY day, value
    ),
    c AS (
      SELECT day, value, cnt, pos,
             COALESCE(SUM(cnt) OVER (PARTITION BY day ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_cnt
      FROM g
    ),
    t AS (
      SELECT day,
             CAST(SUM(pos * (2*cum_cnt + cnt + 1)) AS BIGINT) AS r2,
             CAST(SUM(pos) AS BIGINT) AS npos,
             CAST(SUM(cnt) AS BIGINT) AS n
      FROM c GROUP BY day
    )
    SELECT day, npos, n - npos AS nneg,
           CASE WHEN npos * (n - npos) > 0 THEN
             CAST(r2 - npos*(npos+1) AS DOUBLE)
               / CAST(2 * npos * (n - npos) AS DOUBLE)
           END AS auc
    FROM t
    """,
    doc="Tie-adjusted AUC per calendar day in exact integer arithmetic.",
    shape=Shape(
        has=("windowspecdefinition(day", "Exchange hashpartitioning(day"),
        max_exchanges=1,
    ),
)
def q_eval_auc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily AUC of ``events.value`` vs the purchase label — the
    drift companion to q_eval_auc: a score whose corpus-level AUC
    looks healthy can still decay across time slices, and this census
    is how an eval pipeline sees it per ingestion day.

    Same rank-sum identity and 64-bit-integer discipline as
    q_eval_auc, but the cumulative count partitions BY DAY, so no
    bucketed scheme is required (the scale lesson in reverse: global
    cumulatives need the histogram trick, per-group cumulatives are
    already distributed). Degenerate days (single-class) yield NULL
    AUC explicitly in both engines; NULL scores and NULL timestamps
    are excluded explicitly.

    Reference parity: the reference's per-day volume audit
    (seccion3_sql.sql:85-210; q_volume_by_day) upgraded from counts
    to a per-day ranking-quality metric.
    """
    # g IS the staged (day, value, cnt, pos) frame: the
    # artifact groups at exactly this granularity (NULL-day rows are
    # the NULL-ts rows the oracle excludes — filtered here), so the
    # per-invocation scan AND the groupBy(day, value) exchange are
    # both gone; only the per-day window + closing aggregate run live.
    g = (
        _eval_day_value_frame(spark, sf_dir)
        .filter(F.col("day").isNotNull())
        .select("day", "value", "cnt", "pos")
    )
    w = (
        Window.partitionBy("day")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = g.withColumn(
        "cum_cnt", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    t = c.groupBy("day").agg(
        F.sum(
            F.col("pos") * (2 * F.col("cum_cnt") + F.col("cnt") + 1)
        ).alias("r2"),
        F.sum("pos").alias("npos"),
        F.sum("cnt").alias("n"),
    )
    nneg = F.col("n") - F.col("npos")
    return t.select(
        "day",
        "npos",
        nneg.alias("nneg"),
        F.when(
            F.col("npos") * nneg > 0,
            (F.col("r2") - F.col("npos") * (F.col("npos") + 1)).cast(
                "double"
            )
            / (2 * F.col("npos") * nneg).cast("double"),
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Retrieval/ranking eval: precision & recall at k
# ---------------------------------------------------------------------------


@query(
    "q_eval_topk_precision",
    """
    WITH s AS (
      SELECT event_id, value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lab
      FROM events WHERE value IS NOT NULL
    ),
    r AS (
      SELECT lab,
             row_number() OVER (ORDER BY value DESC, event_id ASC) AS rn
      FROM s
    ),
    tot AS (SELECT CAST(SUM(lab) AS BIGINT) AS npos FROM s)
    SELECT k.k AS k,
           CAST(COUNT(r.rn) AS BIGINT) AS n_considered,
           CAST(COALESCE(SUM(r.lab), 0) AS BIGINT) AS tp,
           CASE WHEN COUNT(r.rn) > 0 THEN
             CAST(COALESCE(SUM(r.lab), 0) AS DOUBLE) / COUNT(r.rn)
           END AS precision,
           CASE WHEN (SELECT npos FROM tot) > 0 THEN
             CAST(COALESCE(SUM(r.lab), 0) AS DOUBLE)
               / (SELECT npos FROM tot)
           END AS recall
    FROM (VALUES (10), (100), (1000)) AS k(k)
    LEFT JOIN r ON r.rn <= k.k
    GROUP BY k.k
    ORDER BY k.k
    """,
    doc="Precision@k and recall@k of the score ranking for k in 10, 100 and 1000.",
    shape=Shape(has=("TakeOrderedAndProject",)),
)
def q_eval_topk_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall at k — the retrieval twin of q_eval_auc.

    AUC summarizes the whole ranking; serving cares about the HEAD of
    it (the k items a retrieval stage or recommender actually acts
    on). tp@k / precision@k / recall@k over the (score DESC, id ASC)
    total order are the standard head-of-ranking censuses.

    The oracle's global ``row_number()`` over every scored row is
    exactly the single-reducer serialization this module exists to
    avoid, so the engine form never ranks the fact table: it keeps the
    top k_max rows first and numbers only that 1000-row census frame.
    Hash-stability: tp and n_considered are exact
    integers on an unambiguous total order (value ties broken by the
    unique event_id); precision/recall are single IEEE divisions of
    identical integers (SURVEY §2.11 discipline).

    Reference parity: the reference's quality-audit aggregates
    (seccion3_sql.sql:85-210) and top-20 duplicate ranking
    (Seccion_1_Excel; q_top_duplicates) extended to the eval side —
    head-of-ranking quality of a score, next to q_eval_auc's
    whole-ranking census.
    """
    ks = [10, 100, 1000]
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "value",
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .otherwise(0)
            .cast("long")
            .alias("lab"),
        )
    )
    # npos folds from the staged per-distinct-score frame —
    # the second events scan this query paid was exactly this global
    # positive count; the ranked head below still scans events once
    # (it needs event_id, which no shared census carries).
    totals = _eval_value_frame(spark, sf_dir).agg(
        F.sum("pos").alias("npos")
    )
    w = Window.orderBy(F.desc("value"), F.asc("event_id"))
    ranked = (
        ev.orderBy(F.desc("value"), F.asc("event_id"))
        .limit(max(ks))
        .withColumn("rn", F.row_number().over(w))
    )
    kdim = spark.createDataFrame([(k,) for k in ks], "k int")
    return (
        kdim.join(
            F.broadcast(ranked), F.col("rn") <= F.col("k"), "left"
        )
        .groupBy("k")
        .agg(
            F.count("rn").alias("n_considered"),
            F.coalesce(F.sum("lab"), F.lit(0)).alias("tp"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "k",
            "n_considered",
            "tp",
            F.when(
                F.col("n_considered") > 0,
                F.col("tp").cast("double")
                / F.col("n_considered").cast("double"),
            ).alias("precision"),
            F.when(
                F.col("npos") > 0,
                F.col("tp").cast("double") / F.col("npos").cast("double"),
            ).alias("recall"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Heavy hitters via a bounded-memory sketch (exact-verified)
# ---------------------------------------------------------------------------


@query(
    "q_heavy_hitters",
    f"""
    WITH tot AS (SELECT COUNT(*) AS n FROM events
                 WHERE event_type IS NOT NULL)
    SELECT event_type, COUNT(*) AS cnt,
           CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM tot) AS share
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY event_type
    HAVING COUNT(*) * {_HH_CAPACITY + 1} > (SELECT n FROM tot)
    ORDER BY cnt DESC, event_type
    """,
    doc="Exact heavy hitters (share > 1/9): Misra-Gries candidates re-counted exactly.",
    shape=Shape(has=("partial_",)),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys holding more than 1/(capacity+1) of the events stream.

    The exact form (the oracle's GROUP BY/HAVING) shuffles one row per
    distinct key — the very cost a heavy-hitter diagnosis exists to
    avoid at 100 TB key cardinalities. The engine form never does:
    Misra-Gries summaries bound per-partition state to
    ``_HH_CAPACITY`` counters, their union is a proven SUPERSET of
    every key above the n/(capacity+1) threshold, and the exact
    re-count touches only candidate keys, so the aggregation state is
    O(capacity × partitions) regardless of distinct-key count.
    Filtering the exact counts at the guarantee threshold makes the
    result identical to the oracle's — integer compare
    (cnt*(capacity+1) > n), one closing division for the reported
    share (SURVEY §2.11 discipline).

    Reference parity: the reference's duplicate-frequency analyses
    (Seccion_1_Excel top-20 duplicates; nb:150-160) at the
    key-distribution level, made feasible for unbounded-cardinality
    keys — the skew-diagnosis census that tells which join keys are hot.
    """
    ev = event_types(spark, sf_dir)
    # The MG candidate set is staged per corpus (the same
    # census_artifact discipline as q_stream_heavy_hitters): ANY
    # partitioning's sketch yields a valid superset (PODS-2012
    # mergeable property), so a staged candidate list is exactly as
    # sound as a per-call one, and the per-invocation Arrow sketch pass
    # (mapInPandas over a spread() copy of the fact table) leaves the
    # declared path. The exact recount + the integer threshold filter
    # — which alone determine the output — still run live against the
    # fact table on every call.
    cand = census_artifact(
        spark,
        sf_dir,
        f"hh_candidates:c{_HH_CAPACITY}",
        lambda: sorted(
            r["event_type"]
            for r in mg_candidates(
                spread(ev), "event_type", _HH_CAPACITY
            )
            .distinct()
            .collect()
        ),
    )
    return heavy_hitter_recount(ev, cand)


@query(
    "q_stream_heavy_hitters",
    f"""
    WITH tot AS (SELECT COUNT(*) AS n FROM events
                 WHERE event_type IS NOT NULL)
    SELECT event_type, COUNT(*) AS cnt,
           CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM tot) AS share
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY event_type
    HAVING COUNT(*) * {_HH_CAPACITY + 1} > (SELECT n FROM tot)
    ORDER BY cnt DESC, event_type
    """,
    doc="Exact heavy hitters of a replayed event stream from folded Misra-Gries summaries.",
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_heavy_hitters' STREAMING twin, sharing its oracle.

    Why the stream path can be oracle-backed at all: Misra-Gries
    summaries are mergeable, so candidates(stream) is a superset of
    the true heavy hitters no matter how the file stream batches the
    data, and the exact re-count + threshold filter is a pure
    function of (candidates ∩ heavy hitters) = heavy hitters. The
    approximate, batching-dependent machinery cancels out of the
    final answer — tested directly in
    tests/test_streaming.py::test_mg_stream_accumulator_matches_batch_heavy_hitters
    and certified here by the DuckDB value-hash gate every round.

    Driver state is O(capacity) in total (mg_merge), and the exact
    pass is q_heavy_hitters' re-count with the candidates as an isin
    literal.

    Reference parity: the reference's planned streaming ingestion
    (nb:383 'mejoras futuras') combined with its duplicate-frequency
    analyses (Seccion_1_Excel top-20; nb:150-160) — frequency
    diagnosis that keeps working when the data arrives as a stream.
    """
    import tempfile

    def _streamed_candidates() -> list:
        import shutil

        data_dir, schema = write_replay_files(spark, sf_dir, "events")
        acc = MGStreamAccumulator("event_type", capacity=_HH_CAPACITY)
        # The checkpoint is single-use (the drained candidate set is
        # what gets staged, via census_artifact below) — remove it
        # after the drain instead of leaking one dir per build (a
        # RESUMABLE stream would instead keep a stable
        # checkpoint and pass ledger_dir= for the durable sketch
        # ledger, the crash-resume form tests/test_streaming.py
        # exercises).
        ckpt = tempfile.mkdtemp(prefix="stream_hh_ckpt_")
        try:
            q = (
                replay_as_stream(spark, data_dir, schema, 1)
                .writeStream.foreachBatch(acc)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        return acc.candidates()

    cand = census_artifact(
        spark, sf_dir, "stream_hh_candidates", _streamed_candidates
    )
    return heavy_hitter_recount(event_types(spark, sf_dir), cand)


def _zipf_oracle_sql() -> str:
    return """
    WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS term
                  FROM documents),
         t AS (SELECT term FROM toks WHERE term <> ''),
         census AS (SELECT term, count(*) AS freq FROM t GROUP BY term),
         r AS (SELECT freq, rank() OVER (ORDER BY freq DESC) AS rnk
               FROM census)
    SELECT CAST(length(bin(rnk)) - 1 AS INTEGER) AS rank_bucket,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(freq) AS BIGINT) AS total_freq,
           CAST(min(rnk) AS BIGINT) AS min_rank,
           CAST(max(rnk) AS BIGINT) AS max_rank
    FROM r GROUP BY 1 ORDER BY 1
    """


@query(
    "q_zipf_census",
    _zipf_oracle_sql(),
    doc="Vocabulary Zipf census: term count and frequency mass per log2 rank octave.",
    shape=Shape(has=("windowspecdefinition(__rank_bucket",), lacks=("Exchange SinglePartition",)),
)
def q_zipf_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    # floor(log2(rank)) = length(bin(rank)) - 1 is integer-exact in both
    # engines; the global rank is bucketed_rank over -freq.
    keyed = (
        doc_term_tf_frame(spark, sf_dir)
        .groupBy("term")
        .agg(F.sum("tf").cast("long").alias("freq"))
        .select("term", "freq", (-F.col("freq")).alias("negfreq"))
    )

    def build():
        lo, hi = keyed.agg(F.min("negfreq"), F.max("negfreq")).first()
        if lo is None:  # empty corpus
            return None
        b = numeric_bucket(F.col("negfreq"), lo, hi, _RANK_BUCKETS)
        return lo, hi, bucket_histogram(keyed, b)

    census = census_artifact(
        spark, sf_dir, f"zipf_rank_census:b{_RANK_BUCKETS}", build
    )
    if census is None:
        return spark.createDataFrame(
            [],
            "rank_bucket int, n_terms long, total_freq long, "
            "min_rank long, max_rank long",
        )
    lo, hi, hist = census
    ranked = bucketed_rank(
        keyed,
        numeric_bucket(F.col("negfreq"), lo, hi, _RANK_BUCKETS),
        ["negfreq"],
        method="rank",
        hist=hist,
    )
    zb = (F.length(F.bin(F.col("global_rank"))) - 1).cast("int")
    return (
        ranked.select(
            zb.alias("rank_bucket"), "freq", "global_rank"
        )
        .groupBy("rank_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("freq").cast("long").alias("total_freq"),
            F.min("global_rank").alias("min_rank"),
            F.max("global_rank").alias("max_rank"),
        )
        .orderBy("rank_bucket")
    )
