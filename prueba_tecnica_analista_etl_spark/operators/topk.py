"""Window-based rankings (SURVEY.md §2.6 W1-W3, §2.7).

``row_number`` partitioned ranking is the reference's explicitly-named
alternative dedup/ranking strategy (``seccion3_sql.sql:182-183``). At
scale the partitioned window shuffles once on the partition keys; the
``rank_filter`` limit prunes early under AQE (WindowGroupLimit pushes
the ``rn <= k`` predicate into the window sort in Spark ≥ 3.5).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
) -> DataFrame:
    """Top-k rows per group with the rank exposed (W1/W2 pattern).

    ``order_by`` must include a unique tiebreak for determinism
    (hash-stability convention, SURVEY.md §2).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def running_sum(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    value_col: Column,
) -> DataFrame:
    """Cumulative sum per group (W3): frame = unbounded-preceding→current.

    Pass a DECIMAL-cast ``value_col`` when cross-engine bit-equality of
    the partial sums matters (float addition is order-dependent).
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("running_total", F.sum(value_col).over(w))
