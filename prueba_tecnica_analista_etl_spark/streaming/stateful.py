"""Exactly-once stream dedup on Spark's native streaming deduplication.

The reference's incremental design (PAPER §4) names dedup across
incremental loads; ``dedupe_stream`` realizes it. On a streaming frame
with no watermark, ``dropDuplicates`` plans as ``StreamingDeduplicate``:
the seen-id set lives in the query's checkpointed state store, so the
first occurrence of each id wins, whether its duplicate arrives in the
same micro-batch, a later one, or after a restart from the same
checkpoint. The engine compares ids as longs, so the decision is exact
at any magnitude, and no Python runs per row.

State grows with the number of distinct ids. Spark's
``withWatermark(...).dropDuplicatesWithinWatermark(...)`` bounds it to
an event-time horizon instead (SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedupe_stream(stream: DataFrame, id_col: str = "event_id") -> DataFrame:
    """First-occurrence-wins streaming dedup on ``id_col``; the output
    schema is the input schema.

    Rows with a NULL ``id_col`` have no identity to deduplicate on, so
    they pass through unchanged and never enter state. The split is
    made in the plan because ``dropDuplicates`` treats NULLs as equal
    and would keep only one of them.
    """
    ids = F.col(id_col)
    return (
        stream.filter(ids.isNotNull())
        .dropDuplicates([id_col])
        .unionByName(stream.filter(ids.isNull()))
    )
