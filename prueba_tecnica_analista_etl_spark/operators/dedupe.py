"""Deduplication family (SURVEY.md §2.5, D1-D5) — the reference's
signature operator group (pandas ``drop_duplicates(keep='first')``,
PostgreSQL ctid-DELETE and ``DISTINCT ON``).

Spark has no implicit row order and no physical row ids, so "keep
first" must be made explicit: a deterministic survivor is the row with
the minimal declared ordering key inside each key-group
(``row_number() == 1``). Bare ``dropDuplicates([key])`` is
nondeterministic and never used where the survivor matters.

Scale notes (100 TB): the window shuffles once on the dedup key —
same cost as any groupBy. For heavily-skewed keys AQE skew handling
applies.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SRC_COL = "_src_priority"
ROW_COL = "_row_id"


def tag_source_order(dfs: Sequence[DataFrame]) -> DataFrame:
    """Union N sources preserving "file order" identity (D1 machinery).

    The reference's keep-first depends on concat order (earlier file
    wins; earlier row within a file wins). Spark rows carry no such
    identity, so we inject it *before* the union: a source-priority
    tag and a per-source ``monotonically_increasing_id`` captured
    before any shuffle (it is only stable per-partition, so it must be
    attached directly on the scan output).

    Columns must match by name (pandas concat aligns by name →
    ``unionByName``).
    """
    tagged = [
        df.withColumn(SRC_COL, F.lit(i)).withColumn(
            ROW_COL,
            # True in-file order, robust to Spark's split scheduling:
            # the scan bin-packs splits sorted by SIZE, so partition
            # index need not follow byte offset once a file splits —
            # bare monotonically_increasing_id would then break
            # "earlier row in file wins". (file, block offset, id)
            # restores it: block start orders splits within a file,
            # the id orders rows within a split (its partition index
            # is constant there). Non-file sources yield ('', -1, id)
            # for every row and degrade to the plain id order. For
            # multi-file sources, files order alphabetically —
            # documented concat-order convention.
            F.struct(
                F.input_file_name().alias("f"),
                F.input_file_block_start().alias("off"),
                F.monotonically_increasing_id().alias("r"),
            ),
        )
        for i, df in enumerate(dfs)
    ]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    return out


def keep_first(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Deterministic keep-first dedup (D1/D2/D3).

    Survivor = first row per ``keys`` group under ``order_by`` (which
    must be a total order within each group — include a unique
    tiebreak). Covers pandas ``drop_duplicates(keep='first')`` (order =
    [SRC_COL, ROW_COL] from :func:`tag_source_order`), PostgreSQL
    ``DISTINCT ON … ORDER BY`` (order = the declared sort), and the
    ctid-DELETE (rewrite-not-delete: Spark is immutable, we emit the
    deduped frame and overwrite — ``seccion3_sql.sql:184-189``).
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    out = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # Drop the tag_source_order bookkeeping columns only when BOTH are
    # present (the tagger's signature) — a caller's own column that
    # happens to share one of the names must not be silently deleted.
    # The pair of names is reserved for the tagger by contract.
    if SRC_COL in out.columns and ROW_COL in out.columns:
        out = out.drop(SRC_COL, ROW_COL)
    return out


def dup_census(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Duplicate census: keys occurring more than once with their count
    (A3/P5; reference ``HAVING COUNT(*) > 1`` duplicate hunt and the
    Excel ``Duplicados_Col1`` sheet)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def distinct_count_audit(df: DataFrame, key: str) -> DataFrame:
    """One-row audit: total, distinct keys, duplicate rows (A1/A2/D4;
    reference's pre-dedup ``duplicated().sum()`` and post-merge
    ``COUNT(*) vs COUNT(DISTINCT)`` checks). Exact ``countDistinct``;
    at 100 TB swap in ``approx_count_distinct`` (HLL, no exact-distinct
    shuffle) when a ±2% audit suffices."""
    return df.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct(key).alias("uniq"),
        (F.count(F.lit(1)) - F.countDistinct(key)).alias("dup_rows"),
    )


def approx_distinct_count_audit(
    df: DataFrame, key: str, rsd: float = 0.02
) -> DataFrame:
    """The 100 TB form of :func:`distinct_count_audit`: HyperLogLog++
    (``approx_count_distinct``) replaces the exact two-phase
    count-distinct. The exact form's first phase shuffles one row per
    DISTINCT KEY (the Expand/partial-distinct rewrite) — at billions
    of keys that is itself a giant shuffle; HLL carries a fixed
    ~1.5/rsd² KB sketch per partition that merges associatively
    map-side, so the exchange moves O(partitions × sketch) bytes at
    ANY key cardinality. Deterministic for a given dataset (HLL is a
    hash census, not a random sample). Tolerance is the documented
    ±rsd; the test pins the harness tables well inside it. Rows-only
    semantics (a sketch estimate cannot hash-match another engine's
    different sketch) — proven by the tolerance test, not an oracle."""
    return df.agg(
        F.count(F.lit(1)).alias("total"),
        F.approx_count_distinct(key, rsd).alias("uniq_approx"),
    )
