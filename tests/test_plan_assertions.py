"""Physical-plan regression assertions — the scale properties the
engine's 100 TB story depends on, pinned as tests so a refactor cannot
silently lose them:

- predicate pushdown reaches the parquet scan (`PushedFilters`),
- column pruning reaches the scan (`ReadSchema` lists only used cols),
- small sides broadcast (`BroadcastHashJoin`, no sort-merge on dims),
- the range join stays a broadcast equi-join on the bin key,
- no CartesianProduct/BroadcastNestedLoopJoin anywhere in the declared
  relational queries (the LSH family is expression-based and shares
  the same guarantee by construction).

These parse `df.explain`'s text the same way a human plan review does;
they intentionally assert on stable plan-node NAMES, not exact trees.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.plans import REGISTRY


def _plan(spark, sf_dir: str, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


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


def test_inner_join_broadcasts_dimensions(spark, sf_dir):
    """The 4-table star join must broadcast the small dims, never
    shuffle lineitem-sized inputs into a sort-merge join."""
    plan = _plan(spark, sf_dir, "q_inner_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semi_and_anti_joins_broadcast(spark, sf_dir):
    for q in ("q_semi_join", "q_anti_join"):
        plan = _plan(spark, sf_dir, q)
        assert "BroadcastHashJoin" in plan, q
        assert "CartesianProduct" not in plan, q


def test_range_join_is_broadcast_equi_join_with_pushdown(spark, sf_dir):
    """The scale-safe rewrite: literal date bounds pushed to BOTH
    parquet scans, pre-aggregated sides, broadcast equi-join on the
    day bin — never a nested-loop BETWEEN theta-join."""
    plan = _plan(spark, sf_dir, "q_range_join")
    assert plan.count("PushedFilters: [IsNotNull") >= 2
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_no_nested_loop_joins_in_relational_registry(spark, sf_dir):
    """Every oracle-backed query's physical plan is free of
    CartesianProduct; broadcast nested loops are allowed only where a
    1-row side makes them trivially safe (none today)."""
    from prueba_tecnica_analista_etl_spark.plans import oracle_sql

    for name in oracle_sql():
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_asof_join_is_single_shuffle_window(spark, sf_dir):
    """The as-of join must stay the interleave+window shape: one
    Exchange for the key partitioning and a Window, not a join at
    all (the quadratic theta-join it replaces would show up as a
    BroadcastNestedLoopJoin)."""
    plan = _plan(spark, sf_dir, "q_asof_join")
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_doc_chunk_is_map_only(spark, sf_dir):
    """Chunking must stay sequence+slice codegen: the ONLY exchange is
    the deliberate spread() repartition — no join, no aggregation, no
    window anywhere in the plan."""
    plan = _plan(spark, sf_dir, "q_doc_chunk")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_repetition_mode_fold_has_no_gram_shuffle(spark, sf_dir):
    """The per-doc 2-gram mode is computed by an array_sort +
    aggregate() fold INSIDE each row — no explode (Generate) of the
    gram stream and no gram-keyed exchange; the only shuffles are the
    spread() repartition and the tiny per-source census."""
    plan = _plan(spark, sf_dir, "q_repetition")
    assert "Generate" not in plan
    assert plan.count("Exchange") <= 3


def test_pack_sequences_window_is_sharded(spark, sf_dir):
    """Offset packing must never serialize through a global-order
    window: the running sum partitions by source, so no SinglePartition
    exchange may appear."""
    plan = _plan(spark, sf_dir, "q_pack_sequences")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_contamination_probe_broadcasts_benchmark(spark, sf_dir):
    """The corpus gram stream must probe the benchmark set via a
    broadcast semi-join — shuffling the full gram stream into a
    sort-merge join would be the 100 TB killer."""
    plan = _plan(spark, sf_dir, "q_contamination")
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_embed_centroids_aggregates_partially(spark, sf_dir):
    """posexplode fan-out must collapse map-side: a partial_avg
    HashAggregate below the exchange keeps the shuffle at
    O(tasks × labels × dim) rows."""
    plan = _plan(spark, sf_dir, "q_embed_centroids")
    assert "partial_avg" in plan
    assert "Generate" in plan  # the posexplode is real


def test_zscore_window_is_sharded(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_zscore_outliers")
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_zscore_moments_broadcasts_stats(spark, sf_dir):
    """The moments twin must never shuffle fact rows by event_type:
    mu/sigma come from a partial-aggregated groupBy (map-side moment
    merge) and rejoin the facts via broadcast — no SortMergeJoin, no
    Window. This is precisely why it is the skew-safe 100 TB plan."""
    plan = _plan(spark, sf_dir, "q_zscore_moments")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "partial_avg" in plan or "partial_stddev" in plan


def test_pack_summary_window_is_sharded(spark, sf_dir):
    """Same invariant as the packer itself: the straddle flag rides the
    per-source running sum, so the Window must partition by source
    (a global-order window would serialize the corpus). A
    SinglePartition exchange DOES legitimately appear here — it feeds
    the final one-row corpus census, whose input is the per-source
    partial-agg states (O(|sources|) rows), never the doc frame."""
    plan = _plan(spark, sf_dir, "q_pack_summary")
    assert "windowspecdefinition(source" in plan
    assert "Exchange hashpartitioning(source" in plan


def test_no_single_partition_over_fact_rows_anywhere(spark, sf_dir):
    """Registry-wide serialization lint (generalizes the hand-audited
    q_pack_summary check): an ``Exchange SinglePartition`` collapses
    the whole plan onto one task, so the ONLY thing allowed to flow
    into one is pre-aggregated state — its immediate child must be a
    partial/merge HashAggregate (an O(groups) census), never a scan,
    project, join or window over fact rows. A contributed query that
    sneaks in a global sort/window or a collect-like funnel fails
    here by name. Streaming trio excluded as in the UDF lint (building
    their plans executes the streams); q_dup_clusters excluded because
    building its plan runs the CC fixpoint eagerly and the returned
    plan is a post-checkpoint census anyway — its REAL pipeline shape
    is linted directly in test_eager_builder_pipelines_stay_clean."""
    SKIP = {
        "q_corpus_curate",
        "q_dup_clusters",
        "q_stream_dedupe",
        "q_stream_sessionize",
    }
    for name in REGISTRY:
        if name in SKIP:
            continue
        lines = _plan(spark, sf_dir, name).splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            child = lines[i + 1].strip() if i + 1 < len(lines) else ""
            assert "HashAggregate" in child and (
                "partial_" in child or "merge_" in child
            ), (
                f"{name}: Exchange SinglePartition fed by non-census "
                f"child: {child[:120]}"
            )


def test_no_row_python_udfs_anywhere_in_registry(spark, sf_dir):
    """Registry-wide Python lint: BatchEvalPython (row-at-a-time
    Python UDF — the 10-100x slow path) must never appear in ANY
    declared query's physical plan, and Arrow-vectorized Python
    (ArrowEvalPython / MapInPandas) may appear only in the operators
    declared to need it (numpy sliding-window mins, signature bit
    census, IVF/LSH re-rank, binary metadata parsing). Everything
    else must be whole-stage-codegen JVM expressions. The streaming
    trio is excluded only because building their plans executes the
    streams; the stream dedup's plan (native StreamingDeduplicate, no
    Python node) is asserted by
    test_streaming.py::test_dedupe_stream_plans_native_deduplicate;
    q_dup_clusters by test_eager_builder_pipelines_stay_clean (its
    declared plan is a post-checkpoint census)."""
    ARROW_ALLOWED = {
        # q_ann_recall, q_simhash_dedup, q_embed_neardup,
        # q_multimodal_pipeline, q_ann_lsh / q_ann_ivf (lsh_sig_frame
        # artifact; the on-disk IVF index read path),
        # q_winnow_fingerprint, q_heavy_hitters and q_multimodal_meta
        # (winnow_fps frame; staged MG candidate census; staged
        # metadata frame) are not in this set: their Arrow stages
        # (signature bit census, sign projection, feature extraction,
        # k-means assignment, sliding-min walk, MG summaries) moved into
        # artifact BUILDERS, so the declared plan is artifact reads +
        # native ops — the disk-backed store erases Python from the
        # steady-state plan entirely. The builders' Arrow nodes are
        # pinned by test_staged_builders_keep_their_arrow_stages.
        # NFC normalizer: Spark has no native expression; the Arrow
        # stage's input is the non-ASCII SLIVER (split-union), never
        # the corpus — pinned by the mixed-corpus fixture test
        "q_unicode_normalize",
    }
    SKIP = {
        "q_corpus_curate",
        "q_dup_clusters",
        "q_stream_dedupe",
        "q_stream_sessionize",
    }
    for name in REGISTRY:
        if name in SKIP:
            continue
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        has_arrow = any(
            t in plan
            for t in ("ArrowEvalPython", "MapInPandas",
                      "FlatMapGroupsInPandas")
        )
        if name in ARROW_ALLOWED:
            assert has_arrow, f"{name}: expected Arrow node vanished"
        else:
            assert not has_arrow, f"{name}: unexpected Python in plan"


def test_eager_builder_pipelines_stay_clean(spark, sf_dir):
    """The artifact/fixpoint queries erase their heavy subtrees with
    localCheckpoint before the registry-wide lints can see them
    (q_dup_clusters is skipped there for the same reason), so lint
    the LAZY builder frames directly: the shingle-edge pipeline and
    the unigram score build must stay whole-stage-codegen JVM
    expressions with no SinglePartition funnel over fact rows."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_pipeline import (
        _unigram_scored_build,
        shingle_edges,
    )
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for df in (shingle_edges(docs), _unigram_scored_build(spark, sf_dir)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        # Same rule as the registry-wide lint: a SinglePartition
        # exchange may only carry pre-aggregated census state (the
        # unigram builder's 1-row total-N), never fact rows.
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if "Exchange SinglePartition" not in line:
                continue
            child = lines[i + 1].strip() if i + 1 < len(lines) else ""
            assert "HashAggregate" in child and (
                "partial_" in child or "merge_" in child
            ), f"SinglePartition fed by non-census child: {child[:120]}"


def test_sessionize_batch_single_shuffle(spark, sf_dir):
    """Both window functions AND the per-session rollup share one
    hash(user_id) exchange — HashPartitioning(user_id) satisfies the
    groupBy(user_id, sn) distribution, so no second shuffle."""
    plan = _plan(spark, sf_dir, "q_sessionize_batch")
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert body.count("Exchange") == 1, plan
    assert "Window" in plan


def test_scd2_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_scd2")
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert body.count("Exchange") == 1, plan


def test_trailing_window_single_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_trailing_window")
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert body.count("Exchange") == 1, plan


def test_mixture_sample_is_map_only(spark, sf_dir):
    """Deterministic hash sampling is a pure scan-side filter: zero
    exchanges, zero joins — it must run at scan speed at 100 TB."""
    plan = _plan(spark, sf_dir, "q_mixture_sample")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_group_sample_has_window_group_limit(spark, sf_dir):
    """The rn <= N predicate must prune via WindowGroupLimit on BOTH
    sides of the source shuffle (Partial before, Final after) so each
    map task forwards only its own top-N per group."""
    plan = _plan(spark, sf_dir, "q_group_sample")
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_snapshot_diff_no_nested_loop(spark, sf_dir):
    """The full-outer diff must stay a hash/sort-merge equi-join on
    the key — never a nested-loop (the null-safe compare lives in the
    filter, not the join condition's shape)."""
    plan = _plan(spark, sf_dir, "q_snapshot_diff")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan or "SortMergeJoin" in plan, plan


def test_funnel_single_fact_shuffle(spark, sf_dir):
    """The three chained stage-minimum Windows and the per-user
    collapse all share ONE hash(user_id) exchange; the only other
    exchange is the final census single-partition over the per-user
    frame (|users| rows), never fact rows."""
    plan = _plan(spark, sf_dir, "q_funnel")
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert body.count("hashpartitioning(user_id") == 1, plan
    assert body.count("Exchange") == 2, plan


def test_retention_single_fact_shuffle(spark, sf_dir):
    """Window-before-distinct: the (user, day) distinct reuses the
    cohort-min window's hash(user_id) partitioning, so the fact table
    shuffles once; the (cohort, offset) rollup exchanges only the
    collapsed users x active-days frame."""
    plan = _plan(spark, sf_dir, "q_retention")
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert body.count("hashpartitioning(user_id") == 1, plan
    assert body.count("Exchange") == 2, plan


def test_aqe_splits_skewed_join_partition(spark):
    """Runtime skew handling, the AQE side of the salting story
    (operators/salt.py is the static fallback): a 90%-one-key join
    under shuffle-join thresholds gets its hot partition SPLIT by AQE
    — the executed plan carries SortMergeJoin(skew=true) with a
    skewed AQEShuffleRead — and the result is still row-exact. At
    100 TB this is the mechanism that keeps one hot user/domain from
    stalling a stage; the test pins that the engine's session confs
    don't accidentally disable it."""
    from pyspark.sql import functions as F

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


def test_r7_additions_plan_shapes(spark, sf_dir):
    """Plan pins for one query family (the shapes their
    docstrings promise):

    - q_bm25 / q_token_histogram: top-k via TakeOrderedAndProject
      (per-partition partial top-k — never a global Sort over the
      scored/vocab frame);
    - q_cdc_apply: the ranking window gets WindowGroupLimit pruning
      (rn<=1 consumed map-side) over one hash(user_id) exchange;
    - q_train_val_split / q_length_histogram: map-only bucket
      assignment into a partial-agged groupBy — no join, no window;
    - q_source_priority_dedup: exactly one fact-frame exchange keyed
      on the content fingerprint feeding the ranking window.
    """
    for name in ("q_bm25", "q_token_histogram"):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name

    plan = _plan(spark, sf_dir, "q_cdc_apply")
    assert "WindowGroupLimit" in plan
    assert "Exchange hashpartitioning(user_id" in plan
    assert "Join" not in plan

    for name in ("q_train_val_split", "q_length_histogram"):
        plan = _plan(spark, sf_dir, name)
        assert "Join" not in plan, name
        assert "Window" not in plan, name
        assert "partial_" in plan, name

    plan = _plan(spark, sf_dir, "q_source_priority_dedup")
    assert "Exchange hashpartitioning(fp" in plan
    assert "windowspecdefinition(fp" in plan


def test_r8_late_additions_plan_shapes(spark, sf_dir):
    """Plan pins for the post-window additions:

    - q_bpe_pairs: ZERO corpus scans (the tf-weighted
      vocabulary folds from the staged doc_term_tf artifact, a
      checkpointed frame, so no parquet scan survives in the plan),
      vocab-side pair explosion, top-k via TakeOrderedAndProject —
      never a global sort of the pair frame;
    - q_unpivot_long: the reshape is an Expand (map-only), and the
      only exchange belongs to the upstream pivot aggregate.
    """
    plan = _plan(spark, sf_dir, "q_bpe_pairs")
    assert "TakeOrderedAndProject" in plan
    assert plan.split("== Initial Plan ==")[0].count("Scan parquet") == 0
    assert "CartesianProduct" not in plan

    plan = _plan(spark, sf_dir, "q_unpivot_long")
    assert "Expand" in plan
    assert "Join" not in plan


# Output dtypes with at least one green driver value-hash on record
# (CORRECTNESS_r01–r07). decimal is deliberately NOT here: the only
# decimal-emitting window query (q_perplexity_buckets) was the only
# red hash two rounds running, so decimal stringification was never
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


def test_source_divergence_plan_shape(spark, sf_dir):
    """q_source_divergence's promised shape: every frame derives from
    the one (source,term) partial-agged shuffle; the per-source totals
    and the scored vocab join as hash joins (broadcast at harness SF);
    the ONLY nested-loop is the one-row corpus-total cross join; the
    final census aggregate is partial-agged map-side."""
    plan = _plan(spark, sf_dir, "q_source_divergence")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row total
    assert "BroadcastHashJoin [term" in plan  # scoring join, hashed
    assert "Exchange hashpartitioning(source" in plan
    assert "partial_sum" in plan


def test_eval_census_plan_shapes(spark, sf_dir):
    """Plan pins for the evaluation censuses:

    - q_eval_auc / q_ks_distance: the global cumulative runs as a
      window partitioned by the rank bucket — never SinglePartition
      over the per-score frame (the only SinglePartition allowed is
      the closing census-sized scalar aggregate);
    - q_neardup_scores: pair expansion stays inline (array combos —
      no cartesian/nested-loop join anywhere), and AQE resolves the
      shared fingerprint-grouped frame to a scale-appropriate shape:
      ReusedExchange of the one fp-keyed Exchange (verified at
      sf0.01, where the census sides are too big to broadcast) or
      broadcast of the census sides (tiny SFs). Both keep the
      corpus-scale explode+shuffle single-execution.
    """
    for name in ("q_eval_auc", "q_ks_distance"):
        plan = _plan(spark, sf_dir, name)
        assert "windowspecdefinition(__rank_bucket" in plan, name
        assert "CartesianProduct" not in plan, name
        # only the closing census-sized scalar aggregate may reduce
        # to one partition — a second SinglePartition exchange means
        # a global window/sort crept in beside the bucketed path
        assert plan.count("Exchange SinglePartition") <= 1, name

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
    parquet scan of documents at all (the artifact serves as a
    checkpointed ExistingRDD) — NO window anywhere (the earlier
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
    assert "Scan parquet" not in final
    assert "Scan ExistingRDD" in final
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
    plans carry no Python (asserted by the registry-wide lint). The
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
        return any(
            t in plan
            for t in (
                "ArrowEvalPython",
                "MapInPandas",
                "FlatMapGroupsInPandas",
            )
        )

    docs = _t(spark, sf_dir, "documents")
    assert has_arrow(
        simhash_pair_frame(
            docs, hashed=doc_shingle_frame(spark, sf_dir)
        )
    ), "simhash builder lost its bit-census Arrow stage"
    assert has_arrow(
        _embed_neardup_pairs_live(spark, sf_dir)
    ), "embed near-dup builder lost its sign-projection Arrow stage"
    assert has_arrow(
        extract_features(fake_assets(docs), dim=16)
    ), "multimodal feature builder lost its mapInPandas stage"

    # q_ann_lsh serves the staged lsh_sigs frame and q_ann_ivf
    # reads the on-disk index — their Arrow stages (signature matmul,
    # k-means assignment) live in the builders now; pin both.
    from prueba_tecnica_analista_etl_spark.functions.vectors import (
        as_double,
    )
    from prueba_tecnica_analista_etl_spark.plans.extensions_scale import (
        IVF_K,
        _lsh_sig_live,
        assign_clusters,
        ivf_centroids,
    )
    from pyspark.sql import functions as F

    assert has_arrow(
        _lsh_sig_live(spark, sf_dir)
    ), "lsh signature builder lost its sign-projection Arrow stage"
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cents = ivf_centroids(spark, sf_dir, e, k=IVF_K, iters=2)
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
            winnow_fingerprints(F.col("text"), k=3, w=4).alias("fps"),
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
