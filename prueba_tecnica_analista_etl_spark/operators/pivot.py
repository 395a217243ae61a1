"""Pivot-style aggregations (SURVEY.md §2.4 A4/A5, §2.7 O2) — the
Excel PivotTable semantics: rows = a category, values = count of key +
sum of a measure, plus a grand-TOTAL row, plus the "top duplicated
keys" table (``xlsx!Tabla_Dinamica_Col2`` / ``Duplicados_Col1``).

All are single-shuffle hash aggregations (Tungsten partial+final with
map-side combine); the rollup adds the TOTAL grouping set in the same
pass — no second scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def count_sum_pivot(df: DataFrame, group_col: str, sum_col: str) -> DataFrame:
    """rows=group_col, count(*) + round(sum(sum_col),2) (A4)."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum(sum_col), 2).alias("total"),
    )


def count_sum_rollup(
    df: DataFrame, group_col: str, sum_col: str, total_label: str = "TOTAL"
) -> DataFrame:
    """Pivot + grand-total row in one pass via ``rollup`` (A5): the
    super-aggregate row is relabeled ``total_label``, matching the
    Excel TOTAL row. Identified via ``grouping()``, NOT by coalescing
    NULL: a genuine NULL group value would otherwise collide with the
    TOTAL row (two 'TOTAL' rows, the real NULL-group counts mislabeled
    as the grand total); with grouping() the NULL-group data row stays
    NULL and only the rollup row gets the label."""
    return (
        df.rollup(group_col)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(sum_col), 2).alias("total"),
            F.grouping(group_col).alias("_g"),  # only legal in agg()
        )
        .select(
            F.when(F.col("_g") == 1, F.lit(total_label))
            .otherwise(F.col(group_col))
            .alias(group_col),
            "cnt",
            "total",
        )
    )


def top_duplicates(df: DataFrame, key: str) -> DataFrame:
    """Top-20 most-frequent keys, deterministic tiebreak (O2/W2; the
    "most duplicated value" question). Physical plan is
    ``TakeOrderedAndProject`` after the aggregation — only 20 rows
    leave each partition, no global sort materialization.

    Reference-faithful and deliberately UNFILTERED: the reference's
    ``value_counts().head(20)`` includes cnt=1 keys when fewer than 20
    keys are duplicated; callers wanting only true duplicates compose
    ``.filter(F.col('cnt') > 1)`` (dup_census does exactly that)."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc(key))
        .limit(20)
    )
