"""As-of (point-in-time) join — J5 extension beyond the reference's
equi-join family (SURVEY.md §2.3 marks non-equi joins out of the
reference's own scope; this is the training-data/feature-store shape:
"for each left event, the latest right record at or before it").

Spark-first design: NOT a range join (``l.ts >= r.ts`` theta-join
explodes to |L|×|R per key| before picking the max — the classic
quadratic trap). Instead the two sides are interleaved into ONE
key-partitioned time-sorted stream and the right payload is carried
forward with ``last(..., ignorenulls=True)`` over a running window —
one shuffle + one sort per key partition, O(|L|+|R| log) total, the
same cost shape as any window aggregation and safe at 100 TB (AQE
skew handling applies to the key partitioning like any other window).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "_asof_side"
_TIME = "_asof_t"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_time: str,
    right_time: str,
    payload: Sequence[str],
    tiebreak: str,
) -> DataFrame:
    """Left as-of join: every ``left`` row, joined to the latest
    ``right`` row with the same ``keys`` and ``right_time`` <=
    ``left_time`` (ties on time broken by max ``tiebreak``, a right
    column — deterministic output). Unmatched left rows keep NULL
    payload (left-join semantics).

    ``payload``: right columns carried onto the left rows (renamed
    ``asof_{col}``). ``tiebreak`` must be in ``payload``.
    """
    assert tiebreak in payload, "tiebreak must be a payload column"
    key_list = list(keys)
    lcols = left.columns
    for c in payload:
        if f"asof_{c}" in lcols:
            raise ValueError(
                f"asof_join output column asof_{c!s} collides with an "
                "existing left column"
            )
    for reserved in (_SIDE, _TIME, "_asof_p", "_asof_hit"):
        if reserved in lcols or reserved in right.columns:
            raise ValueError(
                f"asof_join reserved column {reserved} already present"
            )

    # NULL-time rows never participate in "at or before": a right row
    # with NULL right_time must not be carried into any left row (it
    # would otherwise sort first under asc-nulls-first and leak into
    # every left row preceding the first real right row).
    right = right.filter(F.col(right_time).isNotNull())

    l_side = left.withColumn(_TIME, F.col(left_time)).withColumn(
        _SIDE, F.lit(1)
    )
    for c in payload:
        l_side = l_side.withColumn(
            f"asof_{c}", F.lit(None).cast(right.schema[c].dataType)
        )

    r_side = right.select(
        *key_list,
        F.col(right_time).alias(_TIME),
        *[F.col(c).alias(f"asof_{c}") for c in payload],
    ).withColumn(_SIDE, F.lit(0))
    for c in lcols:
        if c not in key_list:
            r_side = r_side.withColumn(
                c, F.lit(None).cast(left.schema[c].dataType)
            )

    cols = l_side.columns
    u = l_side.select(*cols).unionByName(r_side.select(*cols))

    # The payload travels as ONE struct (null on left rows, never null
    # on right rows) so `last(ignorenulls)` always yields a WHOLE right
    # row — independent per-column lasts would tear rows whenever a
    # payload value is itself NULL.
    packed = u.withColumn(
        "_asof_p",
        F.when(
            F.col(_SIDE) == 0,
            F.struct(*[F.col(f"asof_{c}") for c in payload]),
        ),
    )

    # Order: time asc; right rows (side 0) before left rows at the same
    # time so "at or before" includes equal timestamps; among same-time
    # right rows the tiebreak asc makes `last` pick its maximum.
    w = (
        Window.partitionBy(*key_list)
        .orderBy(
            F.asc(_TIME), F.asc(_SIDE), F.asc(f"asof_{tiebreak}")
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # A left row with NULL left_time gets NULL payload explicitly —
    # with NULL right times filtered above the window already yields
    # NULL there (nulls-first puts it before every right row), but the
    # mask makes the contract hold independent of null-ordering.
    carried = packed.withColumn(
        "_asof_hit",
        F.when(
            F.col(_TIME).isNotNull(),
            F.last("_asof_p", ignorenulls=True).over(w),
        ),
    )
    return (
        carried.filter(F.col(_SIDE) == 1)
        .select(
            *lcols,
            *[
                F.col("_asof_hit").getField(f"asof_{c}").alias(
                    f"asof_{c}"
                )
                for c in payload
            ],
        )
    )
