"""Distributed global ordering — rank/row_number over a whole table
without an ``Exchange SinglePartition``.

``RANK() OVER (ORDER BY k)`` in one window serializes every row
through a single reducer — the canonical scale-killer. The
distributed form used here (the classic two-pass / TeraSort-histogram
scheme):

1. assign each row a BUCKET that is monotone w.r.t. the sort key
   (equal keys → equal bucket, bucket boundaries respect key order);
2. collect the per-bucket histogram — census-sized (``n_buckets``
   rows, independent of table size) — and prefix-sum it driver-side
   into per-bucket OFFSETS;
3. ship the offsets back as plan literals and rank WITHIN buckets
   (``Window.partitionBy(bucket)`` — a sharded window), adding the
   bucket's offset.

Correctness across the bucket seam:

* ``rank``: ties carry equal keys, equal keys share a bucket, so a
  tie group never spans buckets and ``offset + rank_within`` is the
  global rank exactly.
* ``row_number``: requires the window order to be a TOTAL order
  (caller supplies tiebreak columns); then within-bucket numbering is
  unambiguous and offsets compose exactly.

Used by q_global_rank / q_train_order (plans/extensions_distributed)
and unit-tested on adversarial distributions (all-equal keys, single
row, heavy duplication) in tests/test_distributed_patterns.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKET = "__rank_bucket"


def _offset_lookup(
    offsets: list[tuple[int, ...]], n_vals: int
) -> list[Column]:
    """Per-bucket offset lookup expressions — dense ``array`` literals
    indexed by bucket id: the offsets are a census-sized,
    driver-known table (<= 1024 buckets in every scheme here), so they
    ride the plan as literals and each row pays one ``element_at``
    projection — no join, no broadcast, no extra plan node on the
    fact path. Gaps (empty buckets) hold 0; no row carries their id,
    so the placeholder is never read."""
    if not offsets:
        return [F.lit(0).cast("long") for _ in range(n_vals)]
    max_b = max(b for b, *_ in offsets)
    cols: list[Column] = []
    for i in range(n_vals):
        dense = [0] * (max_b + 1)
        for b, *vals in offsets:
            dense[b] = vals[i]
        # ONE sql string through py4j: F.lit(<1024-element list>)
        # marshals element-by-element (~400 ms per construction,
        # measured); the parsed array literal costs ~2 ms and
        # executes identically.
        arr = F.expr(
            "array(" + ",".join(f"{v}L" for v in dense) + ")"
        )
        cols.append(
            F.element_at(arr, F.col(_BUCKET).cast("int") + 1)
        )
    return cols


def numeric_bucket(
    col: Column, lo: float, hi: float, n_buckets: int
) -> Column:
    """Monotone bucket id for a numeric sort key: fixed-width grid
    over [lo, hi], clamped to [0, n_buckets-1]. Equal values always
    land in the same bucket (pure function of the value), and the
    grid respects numeric order, so both bucketed_rank methods apply.
    Degenerate ranges (lo == hi) collapse to one bucket via the
    width floor. NULL values map to a NULL bucket EXPLICITLY — the
    bare clamp would silently send them to bucket 0, because Spark's
    ``greatest``/``least`` skip NULL operands instead of propagating
    them; bucketed_rank then refuses the NULL rather than ranking a
    keyless row."""
    width = max((hi - lo) / n_buckets, 1e-12)
    return F.when(
        col.isNotNull(),
        F.least(
            F.greatest(F.floor((col - F.lit(lo)) / F.lit(width)), F.lit(0)),
            F.lit(n_buckets - 1),
        ).cast("long"),
    )


def md5_prefix_bucket(
    col: Column, *, salt: str = ""
) -> tuple[Column, Column]:
    """Bucket id for ordering by ``md5(salt || col)``: the first two
    hex chars of the same hash (256 uniform buckets). Monotone w.r.t.
    the hex-string order by construction (a string sorts within its
    own prefix range). Returns (bucket, key) — the caller orders by
    the returned key."""
    key = F.md5(F.concat(F.lit(salt), col))
    return F.conv(F.substring(key, 1, 2), 16, 10).cast("long"), key


def bucket_histogram(
    df: DataFrame, bucket: Column
) -> list[tuple[int, int]]:
    """The census pass of bucketed_rank, exposed so callers can stage
    it as a per-corpus artifact (artifacts.census_artifact) instead of
    re-collecting on every invocation. Raises on NULL buckets — see
    bucketed_rank for why a NULL sort key must not rank silently.
    Implemented as :func:`bucket_totals` over a constant-1 column
    (``sum(1) == count(*)``) so the two census schemes share one
    collector."""
    rows = bucket_totals(
        df.withColumn("__bh_one", F.lit(1)), bucket, ["__bh_one"]
    )
    return [(b, t[0]) for b, t in rows]


def bucketed_rank(
    df: DataFrame,
    bucket: Column,
    order_cols: list[Column | str],
    *,
    method: str = "rank",
    out_col: str = "global_rank",
    hist: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Attach ``out_col`` = global rank/row_number of each row under
    ``ORDER BY order_cols``, computed with the two-pass histogram
    scheme (module docstring). ``bucket`` must be monotone w.r.t. the
    order and, for ``method='rank'``, constant on ties; for
    ``method='row_number'`` the order must be total.

    The histogram ``collect`` is bounded by the bucket-id cardinality
    — a census-sized driver transfer in the same class as an IVF
    model or a shard manifest, never O(rows). Pass a staged
    ``hist`` (from :func:`bucket_histogram`, memoized per corpus via
    artifacts.census_artifact) to skip the census pass; it MUST come
    from the same (df, bucket) pair or offsets will be wrong.

    A NULL bucket (NULL sort key through numeric_bucket /
    md5_prefix_bucket) has no place in the key order, and ranking it
    silently would be a worse failure than stopping. Engines disagree
    on NULL placement anyway (Spark windows default NULLS FIRST,
    DuckDB NULLS LAST), so
    bucket_histogram raises and the caller decides: filter NULLs out
    or coalesce them to a sentinel key first."""
    if method not in ("rank", "row_number"):
        raise ValueError(f"unknown method {method!r}")
    keyed = df.withColumn(_BUCKET, bucket)
    if hist is None:
        hist = bucket_histogram(df, bucket)
    offsets, running = [], 0
    for b, n in hist:
        offsets.append((b, running))
        running += n
    w = Window.partitionBy(_BUCKET).orderBy(*order_cols)
    within = F.rank() if method == "rank" else F.row_number()
    # The census pass raises on NULL buckets; the filter keeps a
    # staged hist fed an unexpected frame from ranking keyless rows.
    offset = _offset_lookup(offsets, 1)[0]
    return (
        keyed.filter(F.col(_BUCKET).isNotNull())
        .withColumn(out_col, offset + within.over(w))
        .drop(_BUCKET)
    )


def bucket_totals(
    df: DataFrame, bucket: Column, sum_cols: list[str]
) -> list[tuple[int, tuple[int, ...]]]:
    """The shared census collector of the bucketed schemes: per-bucket
    totals of ``sum_cols`` — ``n_buckets`` rows regardless of table
    size. :func:`bucketed_prefix_sums` consumes it directly;
    :func:`bucket_histogram` (the rank scheme's pass) is the
    constant-1 special case. Raises on NULL buckets — a NULL order
    key has no place in the key order."""
    rows = (
        df.select(bucket.alias(_BUCKET), *sum_cols)
        .groupBy(_BUCKET)
        .agg(*[F.sum(c).alias(c) for c in sum_cols])
        .collect()
    )
    if any(r[_BUCKET] is None for r in rows):
        raise ValueError(
            "bucketed rank/prefix census: bucket expression produced "
            "NULL (NULL order key?) — filter NULL keys or coalesce "
            "them to a sentinel first"
        )
    return sorted(
        (r[_BUCKET], tuple(r[c] for c in sum_cols)) for r in rows
    )


def bucketed_prefix_sums(
    df: DataFrame,
    bucket: Column,
    order_col: Column | str,
    sum_cols: list[str],
    *,
    hist: list[tuple[int, tuple[int, ...]]] | None = None,
) -> DataFrame:
    """Attach ``cum_{c}`` = EXCLUSIVE prefix sum of each
    ``c in sum_cols`` under ``ORDER BY order_col`` — the sum over all
    rows STRICTLY before this one — without an ``Exchange
    SinglePartition``: the rank scheme's histogram pass generalized
    from row counts to column totals.

    ``SUM(c) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)`` serializes
    the table through one reducer exactly like global RANK does; the
    distributed form buckets rows monotonically, collects per-bucket
    TOTALS (bounded at the bucket cardinality — :func:`bucket_totals`),
    prefix-sums them driver-side into per-bucket starting offsets, and
    runs the running sum WITHIN buckets (a sharded window), adding the
    offset.

    Requirements: ``bucket`` monotone w.r.t. ``order_col``, and AT
    MOST ONE ROW PER DISTINCT ``order_col`` value (the callers pass
    grouped per-key frames) — with ties "strictly before" would be
    ambiguous across the bucket seam. ``hist`` (from
    :func:`bucket_totals`, staged via artifacts.census_artifact) skips
    the census pass; it MUST come from the same (df, bucket, sum_cols)
    triple or offsets will be wrong."""
    keyed = df.withColumn(_BUCKET, bucket)
    if hist is None:
        hist = bucket_totals(df, bucket, sum_cols)
    offsets: list[tuple] = []
    running = [0] * len(sum_cols)
    for b, totals in hist:
        offsets.append((b, *running))
        running = [r + (t or 0) for r, t in zip(running, totals)]
    w = (
        Window.partitionBy(_BUCKET)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = keyed.filter(F.col(_BUCKET).isNotNull())
    for c, look in zip(sum_cols, _offset_lookup(offsets, len(sum_cols))):
        out = out.withColumn(
            "cum_" + c,
            look + F.coalesce(F.sum(c).over(w), F.lit(0)),
        )
    return out.drop(_BUCKET)
