"""On-disk IVF index (the similarity-search SCALE path made concrete).

IVF is a coarse quantizer, nprobe pruning and an exact re-rank. Pruned
with an in-plan ``filter`` over an unpartitioned corpus, every query
would still LIST every file. Here the corpus is written
``partitionBy("cluster")`` so the probe filter becomes a PARTITION
filter — a query physically reads ``nprobe/k`` of the index, enforced
by the scan (directory pruning), not by a post-scan filter. The
centroid model rides alongside as a k×dim parquet sidecar (the MODEL —
O(k·dim), scale-independent), so search needs no refit and no access
to the original embeddings table.

Layout::

    {path}/model/   one row per centroid: (cluster int, centroid
                    array<double>) — read to the driver at search time
    {path}/data/    cluster=<i>/part-*.parquet with (id, vector)

Write cost: one assignment pass (Arrow matmul) + one partitioned
write — the standard "build the index once, amortize over queries"
trade. Search cost: O(k·dim) driver work to pick probes + one scan of
the probed partitions into ``TakeOrderedAndProject`` (partial top-k
per partition, no global sort).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prueba_tecnica_analista_etl_spark.artifacts import (
    recover,
    replace,
    staging,
)
from prueba_tecnica_analista_etl_spark.functions.vectors import (
    as_double,
    assign_clusters,
    cosine,
    ivf_fit,
)

MODEL = "model"
DATA = "data"
SCHEMA = "_schema.json"


def _write_schema(path: str, schema: T.StructType) -> None:
    with open(os.path.join(path, SCHEMA), "w") as fh:
        fh.write(schema.json())


def _read_data(spark: SparkSession, path: str) -> DataFrame:
    """Schema-explicit read of the index data: WITHOUT the sidecar
    schema, Spark's inference opens the footer of the lexicographically
    first leaf regardless of the probe set — which would defeat the
    whole read-only-the-probed-partitions property the moment that
    leaf is corrupt or on cold storage. The sidecar (written at index
    build) makes the scan plan without touching ANY data file."""
    with open(os.path.join(path, SCHEMA)) as fh:
        data_schema = T.StructType.fromJson(json.load(fh))
    return spark.read.schema(data_schema).parquet(
        os.path.join(path, DATA)
    )


def ivf_write_index(
    emb: DataFrame,
    path: str,
    k: int = 16,
    iters: int = 2,
    centroids: np.ndarray | None = None,
) -> np.ndarray:
    """Fit (or accept) a coarse quantizer and write ``emb`` as an
    on-disk IVF index under ``path``. Returns the centroid model.

    Pass ``centroids`` to reuse an existing quantizer (e.g. when
    re-indexing a grown corpus under the same model so cluster ids
    stay comparable); otherwise ``ivf_fit`` trains deterministically.
    """
    spark = emb.sparkSession
    if centroids is None:
        centroids = ivf_fit(
            emb.select("vec_id", as_double(F.col("embedding")).alias("_v")),
            "_v",
            "vec_id",
            k=k,
            iters=iters,
        )
    C = np.asarray(centroids, dtype=np.float64)
    assigned = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("vector")
    ).withColumn("cluster", assign_clusters(F.col("vector"), C))
    # Compact at build time: without the repartition every input task
    # writes a sliver into every cluster dir (tasks x k tiny leaves —
    # a probed read then pays one task per sliver). One shuffle on the
    # partition key makes each cluster one coherent file set; at
    # larger scale the same call with a higher partition count keeps
    # leaves at target size — the standard write-side compaction the
    # parquet sinks (sources/files.py) apply.
    assigned.repartition("cluster").write.partitionBy("cluster").mode(
        "overwrite"
    ).parquet(os.path.join(path, DATA))
    _write_schema(path, assigned.schema)
    spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(C)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, MODEL)
    )
    # Snapshot the drift baseline while the model provably matches
    # the data (one extra scan at build time; see ivf_drift_census).
    _write_stats(spark, path)
    return C


def ivf_read_model(spark: SparkSession, path: str) -> np.ndarray:
    """Load the centroid model (k×dim — driver-sized by design)."""
    rows = (
        spark.read.parquet(os.path.join(path, MODEL))
        .orderBy("cluster")
        .collect()
    )
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def ivf_probe_clusters(
    centroids: np.ndarray, query, nprobe: int
) -> list[int]:
    """The ``nprobe`` nearest centroid ids for ``query`` by cosine —
    O(k·dim) numpy on the driver, the only non-distributed step."""
    qv = np.asarray(query, dtype=np.float64)
    centroids = np.asarray(centroids, dtype=np.float64)
    Cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    sims = Cn @ (qv / max(np.linalg.norm(qv), 1e-12))
    return [int(i) for i in np.argsort(-sims)[:nprobe]]


def ivf_search_index(
    spark: SparkSession,
    path: str,
    query,
    nprobe: int = 4,
    topk: int = 10,
    exclude_id=None,
) -> DataFrame:
    """Exact-cosine top-``topk`` over the ``nprobe`` probed partitions
    of the on-disk index. The ``cluster`` predicate is a PARTITION
    filter (cluster is a directory key): pruning happens at file
    listing, so the scan reads nprobe/k of the index's bytes — the
    property the tests pin via ``PartitionFilters`` + ``inputFiles``.
    ``exclude_id`` drops that id's own row before ranking (the
    self-match a probe drawn from the indexed corpus would return).
    """
    centroids = ivf_read_model(spark, path)
    probes = ivf_probe_clusters(centroids, query, nprobe)
    qv = F.array(*[F.lit(float(x)) for x in np.asarray(query)])
    idx = _read_data(spark, path).filter(
        F.col("cluster").isin(probes)
    )
    if exclude_id is not None:
        # Null-safe: `!=` drops NULL-id index rows only
        # when exclude_id is set — inconsistent behavior keyed on an
        # unrelated parameter; eqNullSafe keeps them either way.
        idx = idx.filter(~F.col("vec_id").eqNullSafe(F.lit(exclude_id)))
    return (
        idx.select(
            "vec_id",
            "cluster",
            F.round(cosine(F.col("vector"), qv), 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(topk)
    )


# ---------------------------------------------------------------------------
# Index maintenance: incremental adds, drift detection, rebalance
# ---------------------------------------------------------------------------

STATS = "stats"


def _write_stats(spark: SparkSession, path: str) -> None:
    """Persist the per-cluster assignment-quality baseline (n, mean
    cosine of members to their OWN centroid) next to the model. The
    drift census compares the live index against this snapshot, so it
    is (re)written at build and rebalance time — the points where the
    model actually matches the data."""
    census = _own_centroid_census(spark, path)
    census.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, STATS)
    )


def _own_centroid_census(spark: SparkSession, path: str) -> DataFrame:
    """(cluster, n, mean_cos) — each member's cosine to its own
    centroid, aggregated per cluster. One scan of the index; a
    maintenance job, not a query-path cost."""
    model = spark.read.parquet(os.path.join(path, MODEL)).select(
        "cluster", F.col("centroid").alias("_c")
    )
    return (
        _read_data(spark, path)
        .join(F.broadcast(model), "cluster")
        .select("cluster", cosine(F.col("vector"), F.col("_c")).alias("_cos"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("_cos").alias("mean_cos"),
        )
    )


def ivf_append(emb: DataFrame, path: str) -> dict:
    """Append new vectors to an existing on-disk index WITHOUT a
    refit: assign under the index's OWN sidecar model (cluster ids
    stay comparable with every previously-indexed vector), then
    append-write into the probed ``cluster=<i>`` directories only —
    untouched partitions are never rewritten, so the incremental cost
    is O(new vectors), not O(index).

    Raises ``ValueError`` if the assigned schema does not match the
    index's sidecar schema — appending a mismatched frame would
    poison every future schema-explicit read (the corruption the
    sidecar exists to prevent).

    Returns ``{"appended": n, "clusters_touched": m}``. The drift
    baseline (``stats``) is deliberately NOT rewritten: it snapshots
    the last time the model matched the data, which is exactly what
    ``ivf_drift_census`` must compare against after many appends.
    """
    spark = emb.sparkSession
    C = ivf_read_model(spark, path)
    assigned = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("vector")
    ).withColumn("cluster", assign_clusters(F.col("vector"), C))
    with open(os.path.join(path, SCHEMA)) as fh:
        want = T.StructType.fromJson(json.load(fh))
    # Compare names + types only: nullability differs freely between
    # sources (a filtered/checkpointed frame tightens nullable=false)
    # and a stricter append is safe — rejecting it would refuse valid
    # data.
    got_sig = [(f.name, f.dataType) for f in assigned.schema.fields]
    want_sig = [(f.name, f.dataType) for f in want.fields]
    if got_sig != want_sig:
        raise ValueError(
            f"append schema {assigned.schema.simpleString()} != index "
            f"sidecar schema {want.simpleString()} — refusing to "
            "poison the schema-explicit read path"
        )
    assigned = assigned.localCheckpoint()  # census + write, one compute
    census = assigned.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("cluster").alias("m"),
    ).collect()[0]
    assigned.repartition("cluster").write.partitionBy("cluster").mode(
        "append"
    ).parquet(os.path.join(path, DATA))
    return {
        "appended": int(census["n"]),
        "clusters_touched": int(census["m"]),
    }


# Drop in the weighted mean own-centroid cosine past which a re-fit
# is recommended.
REFIT_DRIFT = 0.05


def ivf_drift_census(spark: SparkSession, path: str) -> dict:
    """Assignment-quality drift since the model last matched the data.

    Re-computes the per-cluster own-centroid cosine census over the
    LIVE index and compares it to the ``stats`` baseline written at
    build/rebalance: appends under a stale quantizer pull the mean
    member-to-centroid cosine down as the corpus distribution moves
    away from the centroids. Returns::

        {"mean_cos_now", "mean_cos_baseline", "drift",
         "clusters": k, "rows": n, "refit_recommended": bool}

    ``refit_recommended`` fires when the weighted mean cosine dropped
    by more than ``REFIT_DRIFT`` — the census→re-fit trigger a real
    100 TB similarity service runs on a schedule. Heuristic doubles
    (order-dependent avg) by design: this is a maintenance signal,
    not an oracle-checked census."""
    base_p = os.path.join(path, STATS)
    if not os.path.exists(base_p):
        raise FileNotFoundError(
            f"{base_p} missing — index predates the drift baseline; "
            "rebuild via ivf_write_index/ivf_rebalance to snapshot one"
        )
    now = _own_centroid_census(spark, path)
    agg_now = now.agg(
        F.sum(F.col("mean_cos") * F.col("n")).alias("s"),
        F.sum("n").alias("n"),
        F.count(F.lit(1)).alias("k"),
    ).collect()[0]
    base = spark.read.parquet(base_p)
    agg_base = base.agg(
        F.sum(F.col("mean_cos") * F.col("n")).alias("s"),
        F.sum("n").alias("n"),
    ).collect()[0]
    mean_now = float(agg_now["s"]) / max(int(agg_now["n"]), 1)
    mean_base = float(agg_base["s"]) / max(int(agg_base["n"]), 1)
    drift = mean_base - mean_now
    return {
        "mean_cos_now": round(mean_now, 6),
        "mean_cos_baseline": round(mean_base, 6),
        "drift": round(drift, 6),
        "clusters": int(agg_now["k"]),
        "rows": int(agg_now["n"]),
        "refit_recommended": drift > REFIT_DRIFT,
    }


def ivf_rebalance(
    spark: SparkSession,
    path: str,
    k: int = 16,
) -> np.ndarray:
    """Re-fit the quantizer on the CURRENT index contents and rewrite
    the layout — the action ``ivf_drift_census``'s trigger recommends.

    Crash-safe: the new index is built whole in a staging dir and
    swapped in with ``artifacts.replace``, so at every interruption
    point a complete index (old or new) exists on disk;
    ``artifacts.recover`` restores it on the next rebalance. The
    sidecar schema + model make either one self-contained. Returns the
    new centroid model."""
    recover(path)
    live = _read_data(spark, path).select(
        F.col("vec_id"), F.col("vector").alias("embedding")
    )
    # localCheckpoint: the rebuild's fit + assignment must read the
    # CURRENT files, not re-list the directory mid-swap.
    live = live.localCheckpoint()
    staged = staging(path)
    # ivf_write_index snapshots the drift baseline itself — no second
    # stats pass here.
    C = ivf_write_index(live, staged, k=k)
    replace(path, staged)
    return C
