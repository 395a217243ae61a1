"""Bucketed table layout — the co-located-join storage primitive
(SURVEY S-layer; SCALE.md §1's "the base side would additionally be
bucketed by the business key", promoted from prose to code).

Spark's ``bucketBy(n, key)`` persists each table pre-hash-partitioned
into ``n`` buckets by key (plus an in-bucket sort when requested), so
an equi-join of two tables bucketed by the SAME key into the SAME
bucket count needs NO Exchange on either side: each task reads bucket
i of both tables and joins locally. At 100 TB this converts the
recurring fact⋈fact shuffle — the single most expensive stage class in
a daily pipeline — into a scan-local merge, paid once at WRITE time
instead of on every join (the write itself shuffles once to route
rows to buckets).

Caveats encoded here:

* Bucketed tables live in the session catalog (``saveAsTable``), not
  at a bare path — Spark only trusts bucket layout it recorded in the
  metastore. The warehouse dir is whatever the session configured
  (tests point it at a tmp dir).
* Both sides must agree on bucket COUNT and KEY; a mismatch silently
  degrades to a normal shuffled join (correct, just not co-located).
  ``bucketed_join`` asserts agreement loudly instead.
* ``spark.sql.sources.bucketing.enabled`` defaults true; the
  shuffle-free property additionally needs the join keys to BE the
  bucket keys (a superset re-shuffles).

The exchange-free property is proven by
tests/test_sources.py::test_bucketed_join_is_shuffle_free — the
executed plan of the bucketed join carries no Exchange on either scan
(with broadcast disabled so the test cannot pass vicariously), and
its rows equal the plain join's.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def _as_keys(keys: str | Sequence[str]) -> list[str]:
    return [keys] if isinstance(keys, str) else list(keys)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: str | Sequence[str],
    buckets: int,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a catalog table hash-bucketed by ``keys``
    into ``buckets`` files per partition (one shuffle now, no join
    shuffle later):

    * ``keys`` — one column name or a sequence of them; multi-key
      layouts co-locate multi-column equi-joins.
    * ``path`` — optional EXTERNAL location. Bucket metadata always
      lives in the session catalog (Spark only trusts bucket layout
      it recorded in the metastore); with ``path`` the data files
      land at the given directory instead of the warehouse.
    * rows are sorted within buckets on the same keys, so a
      sort-merge join skips its per-task sort too.
    """
    ks = _as_keys(keys)
    w = df.write.mode("overwrite").bucketBy(buckets, *ks).sortBy(*ks)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def bucket_spec(spark: SparkSession, table: str) -> tuple[int, list[str]]:
    """(bucket count, bucket columns) of a catalog table, from
    DESCRIBE EXTENDED (the stable public surface for bucket
    metadata).  Raises if the table is not bucketed."""
    rows = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }
    n = rows.get("Num Buckets")
    cols = rows.get("Bucket Columns", "")
    if n is None:
        raise ValueError(f"table {table} is not bucketed")
    keys = [c.strip("`[] ") for c in cols.split(",") if c.strip("`[] ")]
    return int(n), keys


def bucketed_join(
    spark: SparkSession,
    left: str,
    right: str,
    key: str | Sequence[str],
) -> DataFrame:
    """Equi-join two catalog tables on their SHARED bucket key(s),
    asserting the layouts actually agree — a silent count/key
    mismatch would shuffle both sides and the 100 TB win would
    evaporate without any visible failure."""
    ks = _as_keys(key)
    ln, lc = bucket_spec(spark, left)
    rn, rc = bucket_spec(spark, right)
    if ln != rn or lc != ks or rc != ks:
        raise ValueError(
            f"bucket layouts disagree: {left}=({ln},{lc}) "
            f"{right}=({rn},{rc}) join key={ks} — rewrite one side "
            f"with write_bucketed(..., buckets={ln}, keys={ks!r})"
        )
    return spark.table(left).join(spark.table(right), ks)
