"""Event-analytics operators over a keyed, timestamped event log:
ordered funnels and cohort retention (SURVEY.md §2.11 q_funnel /
q_retention are the registry instantiations).

Both are beyond the reference's scope (its pipeline is batch ETL over
flights rows); they exist because an analytics engine fed by the same
event tables is expected to answer "how far do users get" and "do they
come back" without a second system.

Scale shape shared by both: ONE hash(key) exchange over the fact rows
— funnel chains whole-partition window minima on the same
partitioning; retention computes the cohort minimum as a window BEFORE
the distinct so the distinct's distribution is already satisfied.
Everything after the fact exchange operates on per-key collapsed
frames. NULL keys (anonymous events) are excluded by contract in both:
a window would treat NULL as a normal partition while every SQL
equi-join formulation drops it — the explicit filter makes the engine
and any SQL oracle agree by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ordered_funnel(events: DataFrame, stages: Sequence[str]) -> DataFrame:
    """Strictly-ORDERED funnel census: one row per stage with the
    number of users whose stage-``i`` event happens strictly AFTER
    their stage-``i-1`` event (stage timestamps are the earliest
    qualifying occurrence). A bag-of-events check would count a
    purchase that precedes the first view; this does not.

    Output: ``stage_n`` (1-based), ``stage``, ``users``.

    One fact shuffle: each stage's minimum is a whole-partition window
    over the same hash(key) partitioning — Catalyst stacks the chained
    Window ops without re-exchanging — and the per-key collapse reuses
    it too. The final |stages|-row census aggregates the per-key
    frame, never fact rows. The equivalent per-stage join cascade (the
    SQL oracle's form) shuffles the fact table once per stage.
    """
    if not stages:
        raise ValueError("ordered_funnel needs at least one stage")
    w = Window.partitionBy("user_id")
    s = events.filter(F.col("user_id").isNotNull()).select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("_us"),
        F.col("event_type").alias("_tp"),
    )
    prev: str | None = None
    tcols = []
    for i, stage in enumerate(stages):
        cond = F.col("_tp") == stage
        if prev is not None:
            cond = cond & (F.col("_us") > F.col(prev))
        tcol = f"_t{i}"
        s = s.withColumn(tcol, F.min(F.when(cond, F.col("_us"))).over(w))
        tcols.append(tcol)
        prev = tcol
    per_key = s.groupBy("user_id").agg(
        *[F.first(t).alias(t) for t in tcols]
    )
    counts = per_key.agg(
        *[F.count(t).alias(f"_n{i}") for i, t in enumerate(tcols)]
    )
    return counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("stage_n"),
                        F.lit(stage).alias("stage"),
                        F.col(f"_n{i}").alias("users"),
                    )
                    for i, stage in enumerate(stages)
                ]
            )
        ).alias("r")
    ).select("r.stage_n", "r.stage", "r.users")


def cohort_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by
    first-activity day, distinct users counted per whole-week offset
    of each later active day (offset 0 = the cohort's own week).

    Output: ``cohort_day`` (yyyy-MM-dd), ``week_offset``, ``n_users``.

    One fact shuffle: the cohort minimum is computed as a window over
    the raw rows FIRST — it is constant per key, so the (key, day, d0)
    distinct equals the (key, day) distinct but its aggregate
    distribution is satisfied by the window's hash(key) partitioning
    (subset-key rule, no second exchange). The final (cohort, offset)
    rollup shuffles only the collapsed keys × active-days frame.
    """
    w = Window.partitionBy("user_id")
    a = (
        events.filter(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("d"))
        .withColumn("d0", F.min("d").over(w))
        .distinct()
    )
    return a.groupBy(
        F.date_format("d0", "yyyy-MM-dd").alias("cohort_day"),
        F.floor(F.datediff(F.col("d"), F.col("d0")) / 7).alias("week_offset"),
    ).agg(F.countDistinct("user_id").alias("n_users"))
