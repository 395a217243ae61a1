"""Physical-plan regression assertions — the scale properties the
engine's 100 TB story depends on, pinned as tests so a refactor cannot
silently lose them.

Each query declares its plan claim as a ``shape`` on ``@query``. The
``plans`` fixture builds every registry plan once per module;
``test_every_query_keeps_its_plan_shape`` checks each shape against
it and three registry-wide lints check the rules every query keeps.
The other tests check what a shape cannot say: pushed-filter and
read-schema contents, the final adaptive plan after execution, plan
structure, AQE and DPP behaviour, and the builder frames that the
artifact store erases from the declared plans.

These parse the executed plan's text the same way a human plan review
does; they assert on stable plan-node NAMES, not exact trees.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.plans import REGISTRY
from prueba_tecnica_analista_etl_spark.plans.queries import Shape

# Vectorized Python plan nodes; a query's plan may hold one only where
# its shape names it.
_PYTHON = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def _plan(spark, sf_dir: str, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir) -> dict[str, str]:
    """Every registry query's executed plan, built once for the
    registry-wide tests."""
    return {name: _plan(spark, sf_dir, name) for name in REGISTRY}


def _shape_faults(plan: str, shape: Shape) -> list[str]:
    faults = [f"lost {s!r}" for s in shape.has if s not in plan]
    faults += [f"gained {s!r}" for s in shape.lacks if s in plan]
    n = plan.split("AdaptiveSparkPlan")[-1].count("Exchange")
    if shape.max_exchanges is not None and n > shape.max_exchanges:
        faults.append(f"{n} exchanges, at most {shape.max_exchanges}")
    return faults


def _cartesian_faults(plan: str, oracle: str | None) -> list[str]:
    if oracle is not None and "CartesianProduct" in plan:
        return ["gained 'CartesianProduct'"]
    return []


def _python_faults(plan: str, shape: Shape) -> list[str]:
    """No row-at-a-time Python (``BatchEvalPython``, the 10-100x slow
    path) and Arrow Python only where the shape names it."""
    faults = [
        f"undeclared {t!r}" for t in _PYTHON if t in plan and t not in shape.has
    ]
    if "BatchEvalPython" in plan:
        faults.append("gained row-at-a-time Python 'BatchEvalPython'")
    return faults


def _single_partition_faults(plan: str) -> list[str]:
    """An ``Exchange SinglePartition`` fed only by a partial/merge
    HashAggregate — an O(groups) census, never fact rows."""
    faults = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1].strip() if i + 1 < len(lines) else ""
        if not (
            "HashAggregate" in child
            and ("partial_" in child or "merge_" in child)
        ):
            faults.append(f"SinglePartition fed by {child[:120]}")
    return faults


def _registry_faults(plans: dict[str, str], check) -> str:
    """``check(plan, spec)``'s faults over the registry, one line per
    fault, each naming its query."""
    return "\n".join(
        f"{name}: {fault}"
        for name, spec in REGISTRY.items()
        for fault in check(plans[name], spec)
    )


def test_every_query_keeps_its_plan_shape(plans):
    """Every registry query's executed plan keeps its declared
    ``shape``."""
    faults = _registry_faults(plans, lambda p, s: _shape_faults(p, s.shape))
    assert not faults, faults


def test_no_nested_loop_joins_in_relational_registry(plans):
    """Every oracle-backed query's physical plan is free of
    CartesianProduct."""
    faults = _registry_faults(
        plans, lambda p, s: _cartesian_faults(p, s.oracle)
    )
    assert not faults, faults


def test_no_row_python_udfs_anywhere_in_registry(plans):
    """No query plan holds row-at-a-time Python, and Arrow Python
    appears only where the query's shape names it."""
    faults = _registry_faults(plans, lambda p, s: _python_faults(p, s.shape))
    assert not faults, faults


def test_no_single_partition_over_fact_rows_anywhere(plans):
    """A SinglePartition exchange collapses the plan onto one task, so
    only pre-aggregated state may flow into one."""
    faults = _registry_faults(
        plans, lambda p, s: _single_partition_faults(p)
    )
    assert not faults, faults




def test_scan_project_prunes_columns_and_pushes_filter(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scan_project")
    # P6 filter pushed into the scan
    assert "PushedFilters: [" in plan
    assert "l_linenumber" in plan.split("PushedFilters")[1].split("]")[0]
    # only the 4 referenced columns are read, not the 16-col table
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice",
                "l_discount"):
        assert col in read_schema
    for col in ("l_comment", "l_shipmode", "l_quantity"):
        assert col not in read_schema


def test_range_join_pushes_date_bounds_to_both_scans(spark, sf_dir):
    """The range join's literal date bounds reach BOTH parquet scans
    (its broadcast equi-join on the day bin is its shape)."""
    plan = _plan(spark, sf_dir, "q_range_join")
    assert plan.count("PushedFilters: [IsNotNull") >= 2
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_eager_builder_pipelines_stay_clean(spark, sf_dir):
    """The artifact/fixpoint queries erase their heavy subtrees (an
    artifact is served as a scan of the store, a fixpoint round is
    localCheckpoint-ed) before the registry-wide tests can see them, so
    hold the LAZY builder frames to the same rules: the shingle-edge
    pipeline and the unigram score build must stay whole-stage-codegen
    JVM expressions with no SinglePartition funnel over fact rows."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_pipeline import (
        _unigram_scored_build,
        shingle_edges,
    )
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for df in (shingle_edges(docs), _unigram_scored_build(spark, sf_dir)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not _python_faults(plan, Shape()), plan
        assert not _single_partition_faults(plan), plan


def test_tumbling_window_batch_plan_drops_the_watermark(spark, sf_dir):
    """q_tumbling_window runs the stream's tumbling_counts, watermark
    included; Spark must drop the watermark on a batch frame, so the
    batch plan stays a plain two-phase aggregate."""
    df = REGISTRY["q_tumbling_window"].fn(spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "EventTimeWatermark" not in optimized


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling, in place of static key salting: a
    90%-one-key join
    under shuffle-join thresholds gets its hot partition SPLIT by AQE
    — the executed plan carries SortMergeJoin(skew=true) with a
    skewed AQEShuffleRead — and the result is still row-exact. At
    100 TB this is the mechanism that keeps one hot user/domain from
    stalling a stage; the test pins that the engine's session confs
    don't accidentally disable it."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "262144",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "131072",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 400_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 400_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(dim, "k")
        assert len(j.collect()) == 400_000  # every big row matched once
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan, plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _corpus_scans(plan: str, sf_dir: str) -> int:
    """Parquet scans of corpus tables in ``plan``. A served artifact is
    a parquet scan too, but of the artifact store, not of ``sf_dir``."""
    import os

    corpus = os.path.abspath(sf_dir) + os.sep
    return sum(
        "Scan parquet" in line and corpus in line
        for line in plan.splitlines()
    )


def test_bpe_pairs_scans_no_corpus_table(spark, sf_dir):
    """q_bpe_pairs folds the tf-weighted vocabulary from the staged
    doc_term_tf artifact, so its only parquet scan reads the artifact
    store, never a corpus table."""
    plan = _plan(spark, sf_dir, "q_bpe_pairs")
    assert _corpus_scans(plan, sf_dir) == 0


# Output dtypes with at least one green driver value-hash on record
# (the committed CORRECTNESS records). decimal is deliberately NOT
# here: the only decimal-emitting window query (q_perplexity_buckets)
# never hashed green, so decimal stringification was never
# proven — its reported columns now cast to double, and this lint
# keeps any future window entry from re-introducing an unproven hash
# dtype unnoticed.
_DRIVER_PROVEN_DTYPES = {"bigint", "date", "double", "int", "string"}


def test_recorded_window_emits_only_driver_proven_dtypes(
    spark, sf_dir
):
    """Every ORACLE-BACKED query inside the recorded window (the
    first WINDOW entries of queries() — the rows the external harness
    value-hashes) must emit only column dtypes some driver record has
    already proven green. Rows-only entries are exempt (the driver
    never hashes their values)."""
    import __spark_entry__

    names = list(__spark_entry__.queries())[: __spark_entry__.WINDOW]
    offenders = {}
    for n in names:
        spec = REGISTRY[n]
        if spec.oracle is None:
            continue
        df = spec.fn(spark, sf_dir)
        novel = {
            f.dataType.simpleString().split("(")[0]
            for f in df.schema.fields
        } - _DRIVER_PROVEN_DTYPES
        if novel:
            offenders[n] = sorted(novel)
    assert not offenders, offenders


def test_dynamic_partition_pruning_prunes_fact_scan(
    spark, sf_dir, tmp_path
):
    """A date-partitioned fact joined to a selectively-filtered dim
    must scan only the matching partitions: Spark plants a
    ``dynamicpruningexpression`` subquery in the fact scan's
    PartitionFilters, fed by the reused dim broadcast.  This is the
    100 TB star-join survival feature — without it a one-week dim
    filter reads every day of a year-partitioned lake — and nothing
    else in the suite exercises a hive-partitioned READ path (the
    shard exporter writes partitioned, but its reader targets one
    shard by static path)."""
    from prueba_tecnica_analista_etl_spark.sources.tables import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.to_date("ts").alias("day")
    )
    fact_dir = str(tmp_path / "fact")
    ev.write.partitionBy("day").mode("overwrite").parquet(fact_dir)
    days = sorted(
        r["day"] for r in ev.select("day").distinct().collect()
    )
    keep = days[:2]
    dim_dir = str(tmp_path / "dim")
    spark.createDataFrame(
        [(d, "keep" if d in keep else "drop") for d in days],
        "day date, tag string",
    ).write.mode("overwrite").parquet(dim_dir)

    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("tag") == "keep")
    joined = fact.join(dim, "day")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan
    assert "PartitionFilters" in plan

    expected = ev.filter(F.col("day").isin(keep)).count()
    assert joined.count() == expected


def test_neardup_scores_final_plan_runs_the_fp_frame_once(spark, sf_dir):
    """q_neardup_scores' final adaptive plan keeps pair expansion
    inline (no cartesian/nested-loop join anywhere), and AQE resolves
    the shared fingerprint-grouped frame to a scale-appropriate shape:
    ReusedExchange of the one fp-keyed Exchange (verified at sf0.01,
    where the census sides are too big to broadcast) or broadcast of
    the census sides (tiny SFs). Both keep the corpus-scale
    explode+shuffle single-execution."""
    df = REGISTRY["q_neardup_scores"].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert (
        final.count("ReusedExchange") >= 2
        or "BroadcastHashJoin" in final
    )


def test_topk_precision_never_ranks_fact_table(spark, sf_dir):
    """q_eval_topk_precision's defining plan property: the global
    row_number runs over the 1000-row TakeOrderedAndProject census —
    the Window's child IS the TakeOrdered (no Exchange, no Sort in
    between), so the fact table is never globally ranked (the
    oracle's row_number() over every scored row is exactly the
    single-reducer shape the engine form avoids)."""
    plan = _plan(spark, sf_dir, "q_eval_topk_precision")
    final = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject(limit=1000" in final
    lines = [l.strip().lstrip("*:+- (0123456789)") for l in final.splitlines()]
    for i, line in enumerate(lines):
        if line.startswith("Window ["):
            assert lines[i + 1].startswith("TakeOrderedAndProject"), (
                "Window must sit directly on the TakeOrdered census:\n"
                + lines[i + 1]
            )
            break
    else:
        raise AssertionError("no Window in plan")


def test_dup_exposure_single_scan_no_pair_expansion(spark, sf_dir):
    """q_dup_exposure must stay LINEAR in corpus shingles AND skew-free:
    both census branches fold
    the staged fp8_ids artifact — the corpus-scale explode+md5+groupBy
    subtree runs once per CORPUS, so the query plan contains NO
    parquet scan of documents at all (its only scan reads the
    artifact from the store) — NO window anywhere (the earlier
    per-fp count window materialized one unbounded partition per
    boilerplate fingerprint; the de-skewed form partially aggregates
    every fp-keyed step), and the only join is the per-doc census
    merge on doc_id (at most one row per key on both sides) — a
    pair-expansion would show up as an fp-keyed join."""
    df = REGISTRY["q_dup_exposure"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # the staged artifact is the only source: zero corpus scans here
    assert _corpus_scans(final, sf_dir) == 0
    assert "fp8_ids-" in final
    assert "windowspecdefinition" not in final
    join_lines = [
        l for l in final.splitlines() if "Join" in l and "doc_id" in l
    ]
    assert join_lines and all("fp" not in l for l in join_lines), final


def test_tfidf_join_stays_broadcast_under_aqe(spark, sf_dir):
    """q_tfidf's one unhinted join (per-term tf ⋈ per-term df_) is
    deliberately left to AQE statistics — the df_ side is vocabulary-
    sized and AQE picks a broadcast at every tested scale. The
    decision is PINNED so a statistics change
    cannot silently degrade it to a sort-merge join: the FINAL
    adaptive plan must contain a BroadcastHashJoin and no
    SortMergeJoin (runtime decision, so the query executes first)."""
    df = REGISTRY["q_tfidf"].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    final = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final, final
    assert "CartesianProduct" not in final, final


def test_staged_builders_keep_their_arrow_stages(spark, sf_dir):
    """q_simhash_dedup / q_embed_neardup / q_multimodal_pipeline
    serve per-corpus staged pair/feature frames, so their DECLARED
    plans carry no Python (asserted by the registry-wide test). The
    Arrow stages those artifacts are built FROM must still exist in
    the live builder plans — this pins them so a refactor cannot
    silently drop the vectorized path the first-per-corpus build
    runs."""
    from prueba_tecnica_analista_etl_spark.multimodal import (
        extract_features,
        fake_assets,
    )
    from prueba_tecnica_analista_etl_spark.plans.extensions_scale import (
        _embed_neardup_pairs_live,
        doc_shingle_frame,
        simhash_pair_frame,
    )
    from prueba_tecnica_analista_etl_spark.plans.queries import _t

    def has_arrow(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return any(t in plan for t in _PYTHON)

    docs = _t(spark, sf_dir, "documents")
    assert has_arrow(
        simhash_pair_frame(doc_shingle_frame(spark, sf_dir))
    ), "simhash builder lost its bit-census Arrow stage"
    assert has_arrow(
        _embed_neardup_pairs_live(spark, sf_dir)
    ), "embed near-dup builder lost its sign-projection Arrow stage"
    assert has_arrow(
        extract_features(fake_assets(docs))
    ), "multimodal feature builder lost its mapInPandas stage"

    # q_ann_lsh serves the staged lsh_sigs frame and q_ann_ivf
    # reads the on-disk index — their Arrow stages (signature matmul,
    # k-means assignment) live in the builders now; pin both.
    from prueba_tecnica_analista_etl_spark.functions.vectors import (
        as_double,
        assign_clusters,
    )
    from prueba_tecnica_analista_etl_spark.plans.extensions_scale import (
        _lsh_sig_live,
        ivf_centroids,
    )

    assert has_arrow(
        _lsh_sig_live(spark, sf_dir)
    ), "lsh signature builder lost its sign-projection Arrow stage"
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cents = ivf_centroids(spark, sf_dir, e)
    assert has_arrow(
        e.withColumn("cluster", assign_clusters(F.col("v"), cents))
    ), "IVF assignment builder lost its Arrow matmul stage"

    # q_winnow_fingerprint serves the staged winnow_fps frame
    # and q_heavy_hitters a staged MG candidate census — their Arrow
    # stages (sliding-min fingerprint walk, Misra-Gries partition
    # summaries) live in the builders now; pin both live forms.
    from prueba_tecnica_analista_etl_spark.functions.text import (
        winnow_fingerprints,
    )
    from prueba_tecnica_analista_etl_spark.operators.sketch import (
        mg_candidates,
    )

    assert has_arrow(
        docs.select(
            "doc_id",
            winnow_fingerprints(F.col("text")).alias("fps"),
        )
    ), "winnow builder lost its sliding-min Arrow stage"
    ev = _t(spark, sf_dir, "events").select("event_type")
    assert has_arrow(
        mg_candidates(ev, "event_type", 8)
    ), "MG candidate builder lost its mapInPandas summary stage"
    from prueba_tecnica_analista_etl_spark.multimodal import (
        extract_metadata,
    )

    assert has_arrow(
        extract_metadata(fake_assets(docs))
    ), "metadata builder lost its mapInPandas header-sniff stage"
