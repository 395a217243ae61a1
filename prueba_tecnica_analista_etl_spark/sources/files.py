"""JSON-lines and ORC sources/sinks — interchange-format completions
of the source matrix (SURVEY.md §2.1; the reference's formats are CSV /
Excel / Postgres, covered by S1-S9 — these are the beyond-reference
formats a Spark deployment actually meets).

Format guidance encoded here, verified by the plan tests:

- **JSON lines** is the interchange SLOW path: row-oriented parse, no
  column pruning at the reader, no predicate pushdown, ~5-10× the bytes
  of parquet for numeric data. Reading with an explicit schema avoids
  the schema-inference EXTRA full scan — mandatory at 100 TB. Dates and
  timestamps round-trip through ISO-8601 strings.
- **ORC** is a full columnar citizen in Spark: predicate pushdown,
  column pruning, splittable stripes — `read_orc` plans show
  `PushedFilters` exactly like parquet. Pick it when the lakehouse
  standard is ORC (Hive lineage); behavior parity with the parquet path
  is asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from prueba_tecnica_analista_etl_spark.artifacts import (
    recover,
    replace,
    staging,
)


def write_json(df: DataFrame, path: str) -> None:
    """JSON-lines sink (one object per line, ISO-8601 temporals)."""
    df.write.mode("overwrite").json(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines scan with a REQUIRED explicit schema.

    Schema inference on JSON triggers a full extra pass over the data
    before the real scan — a 100 TB anti-pattern, so this API does not
    offer it. ``mode=PERMISSIVE`` nulls malformed fields instead of
    failing, matching the CSV reader's tolerance.
    """
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (zlib default; splittable columnar stripes)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar, prunable, filter-pushing (asserted in
    tests/test_sources.py by grepping the physical plan for
    ``PushedFilters`` on a filtered read)."""
    return spark.read.orc(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    balance: bool = False,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_bytes)`` files and return the new file
    count.

    The table-maintenance operator every streaming/incremental sink
    eventually needs: micro-batch appends and partition-scoped merges
    accrete files far smaller than an efficient scan split, and at
    100 TB the resulting per-file open/footer overhead (plus the
    driver's file-listing memory) dominates scan setup. Target ~128 MB
    — the parquet row-group/HDFS-block sweet spot Spark's own
    ``maxPartitionBytes`` default assumes.

    ``balance=False`` (default) uses ``coalesce`` — a NARROW merge of
    input splits, zero shuffle: the right call when small files are
    roughly uniform (the sink-accretion case). ``balance=True`` pays
    one round-robin shuffle to equalize output sizes — the call when
    input files are wildly skewed and a straggler output file would
    recreate the problem.

    The rewrite is staged beside ``path`` and swapped in with
    ``artifacts.replace``; ``artifacts.recover`` runs first, so a
    crashed earlier compaction is restored or swept. The staging and
    aside dirs are dot-prefixed, so this is also safe on a leaf inside
    a partitioned table root: Spark's path filter never discovers them
    as partitions.

    SINGLE-WRITER DISCIPLINE: never run while a writer (streaming sink,
    merge job) is active on ``path``. The compactor snapshots the file
    list lazily; a merge that commits between that snapshot and the
    swap would be silently overwritten by the rewrite of the pre-merge
    state — a lost update the control ledger cannot detect. Plain
    parquet dirs have no transaction log to arbitrate concurrent
    writers (that is what Delta/Iceberg add); run compaction in the
    sink's idle window, same as any file-format maintenance.
    """
    import math
    import os

    recover(path)
    part_dirs = [
        e.name
        for e in os.scandir(path)
        if e.is_dir() and "=" in e.name and not e.name.startswith(".")
    ]
    if part_dirs:
        # a partitioned root has no top-level data files: total would
        # be 0, n_files 1, and the rewrite would FLATTEN the partition
        # layout (partition columns demoted to data, pruning lost)
        raise ValueError(
            f"compact_parquet: {path} is a partitioned table root "
            f"(found {part_dirs[0]}, ...); use compact_partitioned, "
            "which compacts each leaf without merging boundaries"
        )
    total = sum(
        e.stat().st_size
        for e in os.scandir(path)
        if e.is_file() and not e.name.startswith(("_", "."))
    )
    n_files = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    df = df.repartition(n_files) if balance else df.coalesce(n_files)
    staged = staging(path)
    df.write.parquet(staged)
    replace(path, staged)
    return sum(
        1
        for e in os.scandir(path)
        if e.is_file() and e.name.endswith(".parquet")
    )


def compact_partitioned(
    spark: SparkSession,
    data_path: str,
    target_bytes: int = 128 << 20,
    min_files: int = 2,
) -> dict[str, int]:
    """Compact every leaf partition dir of a ``key=value``-layout
    table; returns {partition dir name: new file count} for the
    partitions actually rewritten.

    This is the maintenance pass for the partitioned targets of
    ``foreach_batch_upsert`` (``partition_col`` set): each micro-batch
    rewrites only touched partitions, so hot partitions accrete one
    file set per batch. Partitions with fewer than ``min_files`` data
    files are skipped (nothing to merge — skipping keeps the pass
    O(fragmented partitions), not O(table)). Partition boundaries are
    never merged across, and each leaf swaps independently, so a crash
    mid-pass leaves every partition either old or new, never mixed.

    Each leaf is rewritten by :func:`compact_parquet`. The entry
    ``artifacts.recover`` restores a leaf stranded mid-swap by a crash
    before the leaf scan can miss it.

    SINGLE-WRITER DISCIPLINE: same as :func:`compact_parquet` — never
    run concurrently with an active writer on the same leaves; a merge
    committing between the leaf snapshot and its swap would be lost.
    Run in the sink's idle window.
    """
    import os

    done: dict[str, int] = {}
    recover(data_path)
    if not os.path.isdir(data_path):
        return done
    for e in sorted(os.scandir(data_path), key=lambda x: x.name):
        if not e.is_dir() or "=" not in e.name or e.name.startswith("."):
            continue
        n_parts = sum(
            1
            for f in os.scandir(e.path)
            if f.is_file() and f.name.endswith(".parquet")
        )
        if n_parts >= min_files:
            done[e.name] = compact_parquet(spark, e.path, target_bytes)
    return done


def zvalue(cols, bits_per_col: int = 16):
    """Morton (Z-order) key: bit-interleave ``cols`` after the caller
    scales each into ``[0, 2**bits_per_col)`` — col j's bit i lands at
    position ``i*len(cols)+j``, so nearby points in EVERY dimension get
    nearby z-values. Pure JVM expressions (a fixed unrolled shift/or
    chain, whole-stage-codegen'd): no UDF in the layout path.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    if n < 2:
        raise ValueError("zvalue needs at least two columns")
    if bits_per_col * n > 63:
        raise ValueError(f"{bits_per_col} bits x {n} cols overflows long")
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        cl = c.cast("long")
        for i in range(bits_per_col):
            bit = F.shiftright(cl, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int = 64,
    bits_per_col: int = 16,
) -> None:
    """Multi-dimension CLUSTERED parquet write (the OPTIMIZE ZORDER
    story, Spark-first): rows are range-partitioned and sorted by the
    Morton interleave of min/max-scaled ``cols``, so each output
    file's (min, max) span is narrow in EVERY listed column — the
    format-level stats that drive file/row-group skipping then prune
    on ANY of the dimensions, not just a lead sort key. A linear sort
    prunes perfectly on its first column and not at all on the rest;
    z-order trades a little of the first for usable pruning on all
    (measured in tests/test_sources.py: a 5% time-slice touches ~1/4
    of z-ordered files vs ALL linearly-sorted-by-user files).

    Scale shape: one range exchange on the z-key (sampled bounds, no
    skew pile-up), in-partition sort, stats written for free by the
    parquet writer. The min/max scaling scan collects 2 scalars per
    column to the driver — O(|cols|), data never moves. NULLs in a
    z-column sort to z-position 0 (coalesced to the column minimum).
    The layout is staged and swapped in with ``artifacts.replace``, so
    an existing ``path`` stays whole until the new one lands.
    """
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
    st = df.agg(*aggs).first()
    top = (1 << bits_per_col) - 1
    scaled = []
    for c in cols:
        mn, mx = st[f"_mn_{c}"], st[f"_mx_{c}"]
        if mn is None or mx is None:
            raise ValueError(
                f"zorder_write: column {c!r} has no non-NULL values "
                "(empty frame or all-NULL column) — nothing to cluster"
            )
        # Float span (an int() truncation would let fractional-range
        # columns scale past `top`, whose high bits zvalue drops);
        # clamp anyway so float rounding can never fold the maximum
        # into a mid-range z-key.
        span = float(mx) - float(mn)
        span = span if span > 0 else 1.0
        scaled.append(
            F.least(
                (
                    (
                        F.coalesce(F.col(c), F.lit(mn)).cast("double")
                        - float(mn)
                    )
                    * top
                    / span
                ).cast("long"),
                F.lit(top).cast("long"),
            )
        )
    zcol = "_z"
    while zcol in df.columns:
        zcol += "_"
    zed = df.withColumn(zcol, zvalue(scaled, bits_per_col))

    recover(path)
    staged = staging(path)
    (
        zed.repartitionByRange(n_files, zcol)
        .sortWithinPartitions(zcol)
        .drop(zcol)
        .write.parquet(staged)
    )
    replace(path, staged)
