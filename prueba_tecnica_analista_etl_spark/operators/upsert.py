"""Upsert / MERGE (SURVEY.md §2.3 J4) — the reference's stored
procedure ``INSERT … ON CONFLICT (key) DO UPDATE`` re-expressed as a
deterministic join-rewrite.

OSS Spark SQL has no metastore-free MERGE, so the operator is::

    result = new_deduped  UNION ALL  (base ANTI-JOIN new_deduped ON key)

i.e. every incoming key wins (the UPDATE arm), untouched base rows
pass through (the non-matched arm), inserts are the incoming keys
absent from base. This reproduces the procedure's semantics
(``seccion3_sql.sql:269-294``) including its precondition that the
incoming batch is deduped on the key first (``DISTINCT ON``,
``sql:225-229``) and the base is unique (``sql:206-207``).

Scale notes: one shuffle on the key for the anti-join (AQE broadcasts
the incoming batch when it is small). Output is written whole — idempotent by
construction (re-running with the same inputs is a fixpoint, the
property the reference asserts at ``sql:130``). For true row-level
ACID upserts, the same API can delegate to Delta Lake ``MERGE INTO``
when available (optional, never a hard dependency).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.operators.dedupe import keep_first
from prueba_tecnica_analista_etl_spark.sources.bucketed import (
    bucket_spec,
    write_bucketed,
)


def upsert(
    base: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    dedup_order: Sequence[Column | str] | None = None,
) -> DataFrame:
    """MERGE join-rewrite. ``dedup_order``: total order choosing the
    surviving incoming row per key (None = incoming batch already
    unique on ``keys``). Column sets must match by name."""
    new_d = keep_first(new, keys, dedup_order) if dedup_order else new
    kept_base = base.join(new_d, on=list(keys), how="left_anti")
    return new_d.select(*base.columns).unionByName(
        kept_base.select(*base.columns)
    )


def upsert_with_metrics(
    base: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    dedup_order: Sequence[Column | str] | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Upsert plus the reference procedure's audit counters
    (``seccion3_sql.sql:244-252``): base/new uniques, updates
    (intersection), inserts (new-only). Metrics cost two extra
    aggregations over the (cached) inputs — acceptable for an audited
    batch merge; skip via :func:`upsert` in hot paths."""
    new_d = keep_first(new, keys, dedup_order) if dedup_order else new
    new_d = new_d.cache()
    n_base = base.count()
    n_new = new_d.count()
    updates = base.join(new_d, on=list(keys), how="left_semi").count()
    result = upsert(base, new_d, keys)
    # the cache exists for the three counts above; release it rather
    # than leak one cached frame per audited merge for the session
    # lifetime (the lazy result simply recomputes new_d when executed)
    new_d.unpersist()
    metrics = {
        "base_rows": n_base,
        "new_rows": n_new,
        "updates": updates,
        "inserts": n_new - updates,
        "result_rows": n_new + (n_base - updates),
    }
    return result, metrics


def bucketed_upsert(
    spark,
    table: str,
    new: DataFrame,
    keys: Sequence[str],
    dedup_order: Sequence[Column | str] | None = None,
) -> DataFrame:
    """MERGE into a BUCKETED catalog base table, preserving the layout
    (SCALE.md §2's repeated-merge story; S17 wired to J4; reference
    lineage ``seccion3_sql.sql:269-294``, the repeatedly-run UPSERT
    procedure).

    The join-rewrite is exactly :func:`upsert`; what changes is WHERE
    the shuffle lands. The base side is a catalog table bucketed on
    the merge key, so its anti-join scan already satisfies the join's
    hash distribution — EnsureRequirements exchanges ONLY the incoming
    batch (into the base's bucket count). At 100 TB that converts the
    per-merge cost from "re-shuffle the whole base" to "shuffle the
    day's delta": the base is read bucket-by-bucket and never crosses
    the network. Proven on the executed plan by
    tests/test_operators.py::test_bucketed_upsert_chain (run 2 of a
    chained merge carries exactly one Exchange — the delta side).

    The result is staged as ``{table}__upsert_staged`` with the SAME
    bucket spec (one bucketBy write — the same price any upsert pays
    to materialize its output), then swapped in rename-aside (the
    crash-safe ordering)::

        ALTER TABLE {table}  RENAME TO {table}__upsert_old
        ALTER TABLE {staged} RENAME TO {table}
        DROP  TABLE {table}__upsert_old

    OSS Spark's catalog has no two-table atomic rename, but with this
    ordering EVERY crash point leaves both the old and the new data
    alive in the catalog (the old DROP-then-RENAME ordering had a
    window where NO base table existed and the old rows were already
    gone). :func:`recover_upsert_swap` inspects the three-table state
    and completes or rolls back the swap; ``bucketed_upsert`` itself
    calls it on entry, so simply re-running the merge after a crash
    is the recovery procedure — the reference procedure's
    re-runnable idempotency (``sql:126-131, 203-206``). For
    multi-reader atomic publishes compose with sources/versioned.py's
    pointer-rename protocol instead of a catalog swap.

    Raises ``ValueError`` if ``table`` is not bucketed exactly on
    ``keys`` — silently merging into a mis-bucketed base would
    re-shuffle 100 TB per merge with no visible failure (same loud
    contract as ``bucketed_join``) — or if ``table`` is EXTERNAL:
    the staged table is written MANAGED (warehouse location), so the
    swap would silently migrate an external table into the warehouse
    and strand the old files at its explicit path. Rewrite external
    bases with ``write_bucketed(..., path=...)`` + a versioned
    publish instead.
    """
    ks = list(keys)
    # Self-recover ONLY when an interrupted swap actually left side
    # tables behind — a plain nonexistent base (typo, never created)
    # must surface as the ordinary table-not-found from the catalog
    # below, not as a confusing "nothing to recover".
    staged_n, old_n = f"{table}__upsert_staged", f"{table}__upsert_old"
    if spark.catalog.tableExists(staged_n) or spark.catalog.tableExists(
        old_n
    ):
        recover_upsert_swap(spark, table)
    n_buckets, bkeys = bucket_spec(spark, table)
    if bkeys != ks:
        raise ValueError(
            f"base {table} is bucketed on {bkeys}, merge keys are "
            f"{ks} — rewrite the base with write_bucketed(..., "
            f"keys={ks!r}) or merge on the bucket keys"
        )
    if _table_is_external(spark, table):
        raise ValueError(
            f"base {table} is EXTERNAL — a catalog swap would "
            "re-home it as MANAGED at the warehouse location and "
            "strand the files at its current path; use "
            "write_bucketed(..., path=...) with a versioned publish "
            "(sources/versioned.py) for external layouts"
        )
    result = upsert(spark.table(table), new, ks, dedup_order)
    staged = f"{table}__upsert_staged"
    old = f"{table}__upsert_old"
    write_bucketed(result, staged, ks, n_buckets)
    spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {staged} RENAME TO {table}")
    spark.sql(f"DROP TABLE {old}")
    return spark.table(table)


def _table_is_external(spark, table: str) -> bool:
    rows = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }
    return rows.get("Type", "").strip().upper() == "EXTERNAL"


def recover_upsert_swap(spark, table: str) -> str:
    """Repair an interrupted :func:`bucketed_upsert` swap.

    Inspects which of ``{table}``, ``{table}__upsert_staged`` and
    ``{table}__upsert_old`` exist and drives the catalog back to a
    single consistent base table. Returns what happened:

    * ``"clean"`` — no leftovers, nothing to do.
    * ``"completed"`` — the staged result was already (or is now)
      live; leftover tables dropped. Chosen whenever the base is
      missing and the staged table exists (the crash hit between the
      two renames — the merge result is complete by construction, so
      rolling FORWARD loses nothing).
    * ``"rolled_back"`` — the original base is (or is now) live
      again. Chosen when the base still exists (the staged copy is a
      pre-swap duplicate; the merge is re-runnable, so dropping it
      loses no durable state) or when only the old-aside copy
      survives.

    Every branch ends with ``table`` present and its bucket layout
    intact — the crash-injection tests assert both plus row-level
    equality at each of the three interruption points.
    """
    cat = spark.catalog
    staged, old = f"{table}__upsert_staged", f"{table}__upsert_old"
    have_base = cat.tableExists(table)
    have_staged = cat.tableExists(staged)
    have_old = cat.tableExists(old)
    if have_base:
        # Crash before the first rename (staged is an unpublished
        # duplicate) or after the second (old is a published-over
        # copy) — in both cases the live base is authoritative.
        outcome = "clean"
        if have_staged:
            spark.sql(f"DROP TABLE {staged}")
            outcome = "rolled_back"
        if have_old:
            spark.sql(f"DROP TABLE {old}")
            outcome = "completed"
        return outcome
    if have_staged:
        # Between the renames: base is aside, staged is the complete
        # merge result — roll forward.
        spark.sql(f"ALTER TABLE {staged} RENAME TO {table}")
        if have_old:
            spark.sql(f"DROP TABLE {old}")
        return "completed"
    if have_old:
        # Staged vanished (e.g. its write never committed): restore
        # the original base.
        spark.sql(f"ALTER TABLE {old} RENAME TO {table}")
        return "rolled_back"
    raise ValueError(
        f"no base, staged or old table found for {table} — nothing "
        "to recover"
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """CDC delta generation — the INVERSE of :func:`upsert`: given two
    snapshots of a keyed table, emit one row per changed key with
    ``change_type`` 'I' (key only in new), 'D' (only in old) or 'U'
    (present in both, any compared column differs). Unchanged keys are
    dropped. I/U rows carry the NEW-side values of every compared
    column (D rows carry NULLs — only the key matters for a delete),
    so the delta is a self-contained CDC feed: :func:`upsert` of the
    I/U rows plus an anti-join of the D keys reconstructs ``new``
    from ``old`` without touching the new snapshot again — the
    round-trip property the tests pin.

    Column comparison uses null-safe inequality (``IS DISTINCT
    FROM``), so NULL→value and value→NULL count as updates — the
    semantics a downstream MERGE needs. Every shared non-key column
    is compared.

    Scale shape: ONE shuffle per side (full outer join co-partitioned
    on the key); column values never enter the shuffle key. At 100 TB
    both snapshots are typically bucketed/partitioned the same way, so
    the exchange collapses to a zipped per-bucket merge; with
    snapshots stored column-pruned (keys + compared columns only) the
    scan reads exactly what the diff needs.
    """
    new_cols, key_set = set(new.columns), set(keys)
    compare_cols = [
        c for c in old.columns if c in new_cols and c not in key_set
    ]
    # Presence markers, not key-IS-NULL: a NULL business key is data
    # (and eqNullSafe matches it across sides); only an unmatched
    # outer-join side leaves the marker NULL.
    o = old.select(
        *keys, *compare_cols, F.lit(True).alias("_op")
    ).alias("o")
    n = new.select(
        *keys, *compare_cols, F.lit(True).alias("_np")
    ).alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    joined = o.join(n, cond, "full_outer")
    old_missing = F.col("o._op").isNull()
    new_missing = F.col("n._np").isNull()
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    return (
        joined.filter(old_missing | new_missing | changed)
        .select(
            *[
                F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k)
                for k in keys
            ],
            F.when(old_missing, "I")
            .when(new_missing, "D")
            .otherwise("U")
            .alias("change_type"),
            # new-side payload: real values on I/U, NULL on D (the
            # n-side of the outer join is absent there).
            *[F.col(f"n.{c}").alias(c) for c in compare_cols],
        )
    )


def cdc_apply(
    base: DataFrame,
    log: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Changelog application — :func:`upsert`'s superset with DELETE
    markers (the apply half of CDC; :func:`snapshot_diff` is the
    generate half, and ``q_cdc_apply`` proves the compaction shape
    against a DuckDB oracle).

    ``log`` carries the base's columns plus ``op_col`` and is already
    compacted to one row per key, its final state (``keep_first`` over
    descending change-time does that). Keys whose final op is ``D``
    are removed; every other key takes its final row (insert or
    update); untouched base rows pass through.

    Same single-key-shuffle shape as the MERGE join-rewrite::

        result = final_upserts  UNION ALL  (base ANTI-JOIN touched_keys)

    and the same idempotent-fixpoint property: re-applying the same
    log is a no-op. A delete for an absent key is a no-op (not an
    error) — at-least-once CDC feeds replay deletes.

    **Key columns must be non-NULL.** SQL equi-joins never match NULL
    keys, so a NULL-key log row cannot find its NULL-key base row: an
    upsert APPENDS a second NULL-key row instead of replacing, and a
    delete is a silent no-op. This matches MERGE-INTO semantics in
    every SQL engine (NULL never equals NULL in ON clauses) but
    diverges from the per-key contract above — pre-filter or repair
    NULL keys upstream (q_cdc_apply filters ``user_id IS NOT NULL``;
    the NULL-op column, by contrast, IS handled, via eqNullSafe
    below).
    """
    kept_base = base.join(log.select(*keys), on=list(keys), how="left_anti")
    # eqNullSafe, not `!=`: a dirty feed's NULL op must be treated as
    # an upsert — with plain `!=` the NULL row falls out of upserts
    # while its key still anti-joins away, silently DELETING a key
    # that was never marked.
    upserts = log.filter(~F.col(op_col).eqNullSafe("D"))
    return upserts.select(*base.columns).unionByName(
        kept_base.select(*base.columns)
    )
