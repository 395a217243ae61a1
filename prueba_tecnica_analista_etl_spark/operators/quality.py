"""Data-quality / audit layer (SURVEY.md §2.4 A7-A9, §2.3 J3-quality,
§2.9 T6) — the reference's verification queries, RAISE-NOTICE audit
counters, and designed reject-routing/anomaly checks, as composable
DataFrame operators.

All checks are single-pass aggregations (``count_if``-style conditional
sums fuse into one HashAggregate — one scan however many rules).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def count_if(cond: Column, name: str) -> Column:
    """BIGINT conditional count (A7; ``sum(CASE WHEN …)``).

    Coalesced to 0 on zero input rows — SQL ``sum`` over an empty
    group is NULL, and a violations census over an empty frame must
    report zero violations, not null (a ``== 0`` gate on None would
    misfire)."""
    return (
        F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias(name)
    )


def violations_census(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """One-row census of rule violations: ``{out_col: condition}`` →
    one conditional count each, single scan (reference's null/range
    checks design, ``nb:360``; T6 batch form)."""
    return df.agg(*[count_if(cond, name) for name, cond in rules.items()])


def split_rejects(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Reject routing (T6/DLQ): rows violating any rule go to the
    quarantine frame with a ``reject_reason`` column (first matching
    rule); clean rows pass through. Accept ∪ reject is a complete
    partition of the input (property-tested)."""
    reason = F.lit(None).cast("string")
    for name, cond in reversed(list(rules.items())):
        reason = F.when(cond, F.lit(name)).otherwise(reason)
    tagged = df.withColumn("reject_reason", reason)
    accepted = tagged.filter(F.col("reject_reason").isNull()).drop(
        "reject_reason"
    )
    rejected = tagged.filter(F.col("reject_reason").isNotNull())
    return accepted, rejected


def profile_stats(df: DataFrame, col: str) -> DataFrame:
    """Statistical profile of one numeric column (A8: count/avg/stddev/
    min/max, rounded per the 2dp edge convention). The designed
    anomaly-detection profile (``nb:360``)."""
    c = F.col(col)
    return df.agg(
        F.count(c).alias("n"),
        F.round(F.avg(c), 2).alias("avg"),
        F.round(F.stddev_samp(c), 2).alias("sd"),
        F.round(F.min(c), 2).alias("mn"),
        F.round(F.max(c), 2).alias("mx"),
    )


def ref_integrity_orphans(
    child: DataFrame, parent: DataFrame, on: Sequence[str]
) -> DataFrame:
    """FK-orphan count (J3 quality form; designed check ``nb:352``):
    child rows with no parent, via anti-join (one shuffle; broadcast
    parent if it is a dim)."""
    return (
        child.join(parent, on=list(on), how="left_anti")
        .agg(F.count(F.lit(1)).alias("orphans"))
    )


def uniqueness_verdict(df: DataFrame, key: str) -> DataFrame:
    """Machine-parseable OK/ERROR verdict (F6/D5; the reference's
    ``CASE WHEN count = count distinct`` verification,
    ``seccion3_sql.sql:352-361``)."""
    return df.agg(
        F.when(
            F.count(F.lit(1)) == F.countDistinct(key),
            F.lit("OK - no duplicates"),
        )
        .otherwise(F.lit("ERROR - duplicates found"))
        .alias("verification")
    )
