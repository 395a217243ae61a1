"""Training-shard export (the hand-off surface to a training job):
write a keyed DataFrame as N hash-sharded parquet files plus a
MANIFEST the ingesting side can validate — per-shard row counts,
optional token totals, and an order-insensitive content checksum.

Design for 100 TB:

* **Shard assignment is a pure hash of the key** (``pmod(xxhash64(key),
  n_shards)``) — map-only, deterministic across re-runs, repartitions
  and cluster sizes, so an incremental re-export reproduces byte-stable
  shard membership (the property that lets a training cluster cache
  shards by name). No global row_number, no single-partition window.
* **The checksum is an order-insensitive fold**: the SUM of each
  row's 64-bit content hash, accumulated in DECIMAL(38,0) and reduced
  mod the largest sub-2^63 prime. Partitioning, task scheduling and
  shuffle order cannot change it (wrapping addition is commutative),
  and — unlike the earlier ``bit_xor`` fold, which is blind to
  even-multiplicity changes (swap two copies of row A for two copies
  of row B and XOR cancels) — summation is multiplicity-sensitive, so
  row mutation, loss and duplication all move it. Collisions remain
  possible (any 63-bit digest admits them) but require adversarial
  construction, not a natural double-row slip. Validation re-derives
  it from the written files with one scan
  (:func:`verify_training_shards`).
* **One job writes everything**: ``partitionBy(shard_id)`` emits every
  shard in a single pass; the manifest is a second, O(shards)
  aggregate over the same frame. The export is staged and swapped in
  with ``artifacts.replace``: a crash leaves the previous export or
  the new one (``artifacts.recover`` restores it on the next export),
  never a half-valid manifest next to live data.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import (
    recover,
    replace,
    staging,
)

MANIFEST = "_manifest"
DATA = "data"
SHARD_COL = "shard_id"
# Per-row token count; its per-shard total goes into the manifest when
# the exported frame carries it.
TOKEN_COL = "n_tok"
# Checksum definition identifier, recorded in every manifest. Bump it
# whenever the fold changes (as bit_xor → this sum did) so a verifier
# rejects the mismatch BY NAME instead of reporting phantom tampering
# against manifests written under the old definition.
CHECKSUM_ALGO = "sum-xxhash64-mod-p63"


def _row_hash(cols: Sequence[str]):
    """64-bit per-row content hash over the named columns (stable
    across partitionings; xxhash64 seeds on column VALUES in order)."""
    return F.xxhash64(*[F.col(c) for c in cols])


def _shard_stats(frame: DataFrame) -> dict[int, dict[str, int]]:
    """Per-shard {rows, tokens?, checksum} from any shard_id-carrying
    frame (tokens when it carries a ``TOKEN_COL`` column) — the ONE
    definition of the manifest's content, used both to write it (over
    the freshly-written files) and to re-derive it at verification
    time, so the two can never drift apart."""
    content_cols = [c for c in frame.columns if c != SHARD_COL]
    # multiplicity-sensitive order-insensitive fold: sum of row hashes
    # in DECIMAL(38,0) (room for >10^19 rows before overflow, and no
    # ANSI-mode overflow throw a plain BIGINT sum would risk), reduced
    # mod the largest prime < 2^63 so the manifest column stays LONG.
    aggs = [
        F.count(F.lit(1)).cast("long").alias("rows"),
        F.pmod(
            F.sum(_row_hash(content_cols).cast("decimal(38,0)")),
            F.lit(9223372036854775783).cast("decimal(38,0)"),
        )
        .cast("long")
        .alias("checksum"),
    ]
    if TOKEN_COL in frame.columns:
        aggs.insert(
            1, F.sum(F.col(TOKEN_COL)).cast("long").alias("tokens")
        )
    return {
        int(r[SHARD_COL]): {
            k: int(v)
            for k, v in r.asDict().items()
            if k != SHARD_COL and v is not None
        }
        for r in frame.groupBy(SHARD_COL).agg(*aggs).collect()
    }


def export_training_shards(
    df: DataFrame, path: str, key_col: str, n_shards: int
) -> dict[int, dict[str, int]]:
    """Write ``df`` as ``n_shards`` hash-sharded parquet shards plus a
    manifest; returns the manifest as ``{shard_id: {rows, tokens?,
    checksum}}`` (tokens when ``df`` carries ``TOKEN_COL``). The
    manifest lives at ``{path}/_manifest`` (parquet) and every shard at
    ``{path}/data/shard_id={i}/``.
    """
    # Emptiness is checked AFTER the write, at file level — a
    # pre-write limit(1).count() would execute the full upstream
    # lineage one extra time, the exact double-scan this module's
    # manifest design avoids.
    sharded = df.withColumn(
        SHARD_COL,
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int"),
    )

    recover(path)
    staged = staging(path)
    sharded.write.partitionBy(SHARD_COL).parquet(os.path.join(staged, DATA))
    # Empty-input guard: a zero-row frame writes no shard_id=* dirs,
    # and reading the empty data dir back fails schema inference
    # mid-export. Detect it from the WRITTEN FILES (free — one
    # listdir, no extra lineage run), clean up the staging dir, and
    # fail with intent.
    if not any(
        e.startswith(f"{SHARD_COL}=")
        for e in os.listdir(os.path.join(staged, DATA))
    ):
        shutil.rmtree(staged, ignore_errors=True)
        raise ValueError(
            "refusing to export an empty frame: zero-row input "
            "writes no part files and cannot produce a valid "
            "manifest (almost certainly an upstream bug)"
        )
    # The manifest is derived from the WRITTEN FILES, never from the
    # input frame: re-evaluating `sharded` for the aggregate would (a)
    # run the full upstream lineage a second time — a double scan at
    # the 100 TB design point — and (b) diverge from the written rows
    # whenever any upstream column is nondeterministic (rand(),
    # current_timestamp, monotonically_increasing_id), making the
    # manifest certify rows that were never written. Reading back the
    # freshly-written compact parquet is one cheap scan and runs the
    # SAME _shard_stats verify_training_shards will later recompute.
    spark = df.sparkSession
    written = spark.read.parquet(os.path.join(staged, DATA))
    stats = _shard_stats(written)
    cols = ["shard_id", "rows"] + (
        ["tokens"] if TOKEN_COL in written.columns else []
    ) + ["checksum"]
    # m.get, not m[...]: _shard_stats drops NULL aggregates (an
    # all-NULL token column sums to NULL), and the manifest must
    # record that NULL rather than crash mid-export with the data
    # already written.
    spark.createDataFrame(
        [
            tuple([sid] + [m.get(c) for c in cols[1:]])
            for sid, m in sorted(stats.items())
        ],
        ", ".join(f"{c} long" for c in cols),
    ).withColumn(SHARD_COL, F.col(SHARD_COL).cast("int")).withColumn(
        # Version the checksum definition INTO the manifest: a
        # verifier re-deriving with a different fold would otherwise
        # report every shard as tampered (the bit_xor→sum migration
        # would have done exactly that to pre-migration manifests).
        # verify_training_shards refuses mismatched algos by name
        # instead of crying corruption.
        "checksum_algo",
        F.lit(CHECKSUM_ALGO),
    ).write.mode(
        "overwrite"
    ).parquet(os.path.join(staged, MANIFEST))

    replace(path, staged)
    return stats


def _manifest_dict(
    spark: SparkSession, path: str
) -> tuple[dict[int, dict[str, int]], str | None]:
    """Per-shard numeric stats plus the recorded checksum algo (None
    when the manifest records none)."""
    rows = spark.read.parquet(os.path.join(path, MANIFEST)).collect()
    algo = rows[0].asDict().get("checksum_algo") if rows else None
    return {
        int(r[SHARD_COL]): {
            k: int(v)
            for k, v in r.asDict().items()
            if k not in (SHARD_COL, "checksum_algo") and v is not None
        }
        for r in rows
    }, algo


def verify_training_shards(spark: SparkSession, path: str) -> dict[int, str]:
    """Ingestion-side validation: re-derive every shard's row count,
    token total and checksum FROM THE WRITTEN FILES and compare to the
    manifest. Returns ``{}`` when everything matches, else
    ``{shard_id: reason}`` — a lost file, duplicated row, bit-flip or
    truncated write all surface as a named mismatch, before a training
    job consumes garbage."""
    manifest, algo = _manifest_dict(spark, path)
    if algo != CHECKSUM_ALGO:
        # A manifest that does not name the supported checksum
        # definition CANNOT be content-verified by this code — surface
        # that as a single named problem (sentinel shard -1), not as
        # per-shard "corruption" that would be indistinguishable from
        # real tampering.
        return {
            -1: (
                f"manifest checksum algo {algo!r} is not the supported "
                f"{CHECKSUM_ALGO!r}; re-export with the current writer "
                "to make the shards verifiable"
            )
        }
    data = spark.read.parquet(os.path.join(path, DATA))
    derived = _shard_stats(data)

    problems: dict[int, str] = {}
    for sid in sorted(set(manifest) | set(derived)):
        m, d = manifest.get(sid), derived.get(sid)
        if m is None:
            problems[sid] = "shard on disk but missing from manifest"
        elif d is None:
            problems[sid] = "shard in manifest but missing on disk"
        elif m != d:
            diffs = [
                f"{k}: manifest={m.get(k)} derived={d.get(k)}"
                for k in sorted(set(m) | set(d))
                if m.get(k) != d.get(k)
            ]
            problems[sid] = "; ".join(diffs)
    return problems
