"""End-to-end pretraining-data run — the flagship COMPOSITION: every
stage a serious LLM-pretraining data pipeline runs, chained over the
``documents`` corpus as one auditable unit with conservation
invariants enforced at the seams.

    quality gate → exact dedup → near-dup purge      (curate_corpus)
    → semantic (SemDeDup) purge                      (q_semdedup's
                                                      cluster-then-purge
                                                      labels; skipped
                                                      when the corpus
                                                      ships no
                                                      embeddings table)
    → benchmark holdout + 4-gram decontamination     (contamination_hits,
                                                      q_decontaminate's
                                                      probe)
    → deterministic train/val/test split             (split_col,
                                                      q_train_val_split's
                                                      rule)
    → context-window pack plan over train            (pack_bins,
                                                      q_pack_sequences'
                                                      per-source bins)
    → hash-sharded training export + manifest        (sources.export)

Every stage is the registry's own stage code from ``stages`` — the
curation steps, the split rule, the pack plan, the contamination
probe, the holdout modulus and the thresholds — so the oracle proves
the code this run executes. The stage functions (``curate_corpus``,
``semantic_purge``, ``decontaminate``, ``export_training_shards``,
``verify_training_shards``) are module attributes that ``pretrain_run``
looks up when it calls them, so a profiler can wrap each stage from
outside. This module adds the glue, the audit ledger and the
invariants:

* **doc conservation** — input = dropped-by-quality + dropped-by-
  exact-dedup + dropped-by-near-dup + dropped-by-semdedup +
  benchmark-held + contamination-flagged + kept, and kept = train +
  val + test. A stage that loses or duplicates rows cannot pass
  silently; each dedup tier is one more conservation term.
* **token conservation** — train tokens as counted going INTO the
  export equal the shard manifest's token total coming OUT (and the
  pack plan's bin totals equal the same number), so the artifact a
  training job reads reconciles exactly with what curation decided.
* **tamper-evidence** — the export is re-verified via its manifest
  checksums before the run reports success.

Reference lineage: the reference's notebook pipeline (read → clean →
dedup → classify → export, ``ETL_Prueba_Tecnica.ipynb:44-116``) is
this composition's 15k-row ancestor; the stages and audit ledger here
are its 100 TB-shaped descendant.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.functions.text import (
    n_tokens,
    shingles,
)
from prueba_tecnica_analista_etl_spark.sources.export import (
    export_training_shards,
    verify_training_shards,
)
from prueba_tecnica_analista_etl_spark.sources.tables import _t
from prueba_tecnica_analista_etl_spark.stages.dedup import (
    cached_minhash_pairs,
    exact_dedup,
    near_dup_purge_stable,
    quality_gate,
)
from prueba_tecnica_analista_etl_spark.stages.eval import (
    BENCH_MOD,
    CONTAM_MIN_HITS,
    benchmark_grams,
    contamination_hits,
    split_col,
)
from prueba_tecnica_analista_etl_spark.stages.text import (
    CTX_TOKENS,
    dup_span_census,
    pack_bins,
)
from prueba_tecnica_analista_etl_spark.stages.vectors import semdedup_labels


def curate_corpus(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict[str, int]]:
    """Full curation chain over the ``documents`` table; returns the
    surviving corpus and per-stage audit counts.

    The near-dup purge is the STABLE maximal-independent-set form
    (:func:`near_dup_purge_stable`, eager fixpoint): curate_corpus
    computes audit counts anyway, so the per-round actions cost
    nothing extra, and the audit makes any enforcement over-purge
    observable (``enforcement_over_purged`` is 0 on convergence)."""
    docs = _t(spark, sf_dir, "documents")
    gated = quality_gate(docs)
    # NOT checkpointed, by measurement: the audit counts do re-run the
    # gate expressions and the dedup window per consumer, but
    # _materialize(deduped) was tried and is SLOWER here (1.5-1.8 s →
    # 2.0-3.0 s isolated at sf0.1) — the checkpoint write/read costs
    # more than recomputing a cheap map+window over this corpus. At a
    # scale where the gate/dedup lineage is expensive, checkpoint the
    # frontier; the pair frame's _materialize shows the pattern.
    deduped = exact_dedup(gated)
    # The UNCAPPED pair frame: the reporting query's top-100 limit
    # must never bound what curation purges.
    pairs = cached_minhash_pairs(spark, sf_dir)
    survivors, purge_audit = near_dup_purge_stable(deduped, pairs)
    stats = {
        "input_docs": docs.count(),
        "after_quality": gated.count(),
        "after_exact_dedup": deduped.count(),
        "after_near_dup": survivors.count(),
        **purge_audit,
    }
    return survivors, stats


def decontaminate(
    docs: DataFrame, survivors: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(kept, bench_held, flagged) partition of ``survivors``.

    The benchmark gram set is built from the RAW corpus's held-out
    docs (the eval set exists independently of what curation kept)
    and probed with q_decontaminate's :func:`contamination_hits`. It
    is built lazily inside this DAG rather than read from the staged
    ``bench_grams4`` artifact: on an empty store that artifact (and
    the doc_grams4 stream under it) would add builds and bytes the
    run does not need."""
    grams = shingles(F.split(F.col("text"), " "), 4)
    held = F.col("doc_id") % BENCH_MOD == 0
    bench = benchmark_grams(docs.select("doc_id", grams.alias("grams")))
    # flagged_ids is consumed three times downstream (kept anti-join,
    # flagged semi-join, plus each ledger .count()); truncate its
    # lineage so the broadcast gram join and per-doc distinct-gram
    # aggregation run once. It is O(flagged docs) one-column rows —
    # the same size class as the survivors checkpoint in pretrain_run.
    flagged_ids = (
        contamination_hits(
            survivors.select("doc_id", F.explode(grams).alias("gram")),
            bench,
        )
        .filter(F.col("n_hits") >= CONTAM_MIN_HITS)
        .select("doc_id")
        .localCheckpoint()
    )
    candidates = survivors.filter(~held)
    kept = candidates.join(flagged_ids, "doc_id", "left_anti")
    flagged = candidates.join(flagged_ids, "doc_id", "left_semi")
    return kept, survivors.filter(held), flagged


def _has_embeddings(sf_dir: str) -> bool:
    """Whether the corpus ships the ``embeddings`` table the SemDeDup
    tier reads."""
    return os.path.exists(os.path.join(sf_dir, "embeddings.parquet"))


def semantic_purge(
    spark: SparkSession, sf_dir: str, survivors: DataFrame
) -> tuple[DataFrame, int | None]:
    """(kept, n_purged) — drop survivors whose embedding the SemDeDup
    tier purged (q_semdedup's component labels: everything but each
    semantic-duplicate family's min-id representative).

    The harness corpus's ``embeddings`` table indexes a doc subset by
    id (vec_id == doc_id), so the purge is one anti-join of the
    survivor set against the O(purged) label frame — the labels are a
    staged per-corpus artifact (semdedup_labels), shared with
    q_semdedup. ``pretrain_run`` prefetches them while curation runs,
    so here the call waits for that build, if still in flight, and
    then hits the session memo. A corpus that ships no embeddings
    table skips the tier (returns ``n_purged=None``) rather than
    failing the whole run — substring/semantic tiers are additive,
    not preconditions."""
    if not _has_embeddings(sf_dir):
        return survivors, None
    purged = (
        semdedup_labels(spark, sf_dir)
        .filter(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id"))
    )
    kept = survivors.join(purged, "doc_id", "left_anti")
    n = survivors.join(purged, "doc_id", "left_semi").count()
    return kept, n


def _span_signal(spark: SparkSession, sf_dir: str) -> dict:
    """Corpus-wide totals of q_dup_spans' per-source census — the
    memorized-span advisory the run report carries alongside the
    conservation ledger. It reads only ``documents``, so
    ``pretrain_run`` prefetches it on a worker thread while curation
    runs."""
    row = (
        dup_span_census(spark, sf_dir)
        .agg(
            F.sum("n_spans").alias("n_spans"),
            F.sum("n_dup_spans").alias("n_dup_spans"),
        )
        .collect()[0]
    )
    return {
        "n_spans": int(row["n_spans"] or 0),
        "n_dup_spans": int(row["n_dup_spans"] or 0),
    }


def pretrain_run(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_shards: int = 8,
) -> dict:
    """Run the full composition; returns the audit ledger.

    Raises ``ValueError`` naming the broken invariant if any stage
    loses/duplicates docs or the exported manifest's totals do not
    reconcile with the curation ledger."""
    # Until the corpus is large, the run's cost is the fixed cost of
    # many small jobs paid one after another, with most cores idle.
    # The SemDeDup labels and the span census read only the raw
    # corpus, so they build while curation runs. Each task is wrapped
    # here, on the caller's thread, so its jobs carry the caller's job
    # group, description and tags; one wrap per task gives each worker
    # its own copy of the local properties, which Spark mutates per
    # query. Leaving the block waits for both tasks, so no worker
    # outlives the call.
    with ThreadPoolExecutor(max_workers=2) as pool:

        def prefetch(fn):
            task = inheritable_thread_target(spark)(fn)
            return pool.submit(task, spark, sf_dir)

        labels = (
            prefetch(semdedup_labels)
            if _has_embeddings(sf_dir)
            else None
        )
        span_signal = prefetch(_span_signal)

        docs = _t(spark, sf_dir, "documents")
        survivors, curate_stats = curate_corpus(spark, sf_dir)
        # One checkpoint at the curation frontier: every downstream stage
        # (decontaminate, split, pack, export) re-consumes the survivor
        # set several times; without truncation each count would re-run
        # the gate window and the pair purge.
        survivors = survivors.localCheckpoint()

        # Semantic tier: one more conservation term. The purge set is
        # O(semantic dups) rows off the staged semdedup_labels
        # artifact; the anti-join below is re-derived by downstream
        # consumers from the checkpointed survivors, so no extra
        # checkpoint is needed.
        survivors, semdedup_purged = semantic_purge(spark, sf_dir, survivors)
        if labels is not None:
            labels.result()  # a failed prefetch fails the run, as inline

        kept, bench_held, flagged = decontaminate(docs, survivors)
        kept = kept.select(
            "doc_id",
            "source",
            "text",
            n_tokens(F.col("text")).alias("n_tok"),
            split_col().alias("split"),
        )
        kept = kept.localCheckpoint()

        split_census = {
            r["split"]: (r["docs"], r["tokens"])
            for r in kept.groupBy("split")
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_tok").alias("tokens"),
            )
            .collect()
        }
        train = kept.filter(F.col("split") == "train")
        pack_census = pack_bins(train).agg(
            F.count(F.lit(1)).alias("bins"),
            F.sum("docs").alias("docs"),
            F.sum("tokens").alias("tokens"),
        ).collect()[0]

        shard_dir = os.path.join(out_dir, "train_shards")
        manifest = export_training_shards(
            train.select("doc_id", "source", "text", "n_tok"),
            shard_dir,
            key_col="doc_id",
            n_shards=n_shards,
        )
        problems = verify_training_shards(spark, shard_dir)
        if problems:
            raise RuntimeError(f"exported shards fail verification: {problems}")

        ledger = {
            **curate_stats,
            "semdedup_purged": semdedup_purged,
            "bench_held": bench_held.count(),
            "contam_flagged": flagged.count(),
            "kept": kept.count(),
            "splits": {
                s: {"docs": d, "tokens": t}
                for s, (d, t) in sorted(split_census.items())
            },
            "pack": {
                "bins": int(pack_census["bins"]),
                "docs": int(pack_census["docs"]),
                "tokens": int(pack_census["tokens"]),
                "ctx_tokens": CTX_TOKENS,
            },
            "export": {
                "shards": len(manifest),
                "rows": sum(m["rows"] for m in manifest.values()),
                "tokens": sum(m["tokens"] for m in manifest.values()),
                "path": shard_dir,
            },
            # Substring-level signal: the duplicate-span census joins
            # the ledger as an ADVISORY metric — a span census flags
            # memorized runs for inspection; it does not own a purge
            # decision, so it is NOT a conservation term. All-integer,
            # deterministic, off the staged doc_spans artifact.
            "dup_span_signal": span_signal.result(),
        }

    errors = []
    if ledger["after_near_dup"] != (
        (semdedup_purged or 0)
        + ledger["bench_held"]
        + ledger["contam_flagged"]
        + ledger["kept"]
    ):
        errors.append(
            "doc conservation (semdedup+decontaminate): survivors != "
            "semdedup_purged + bench_held + flagged + kept"
        )
    split_docs = sum(v["docs"] for v in ledger["splits"].values())
    if split_docs != ledger["kept"]:
        errors.append("doc conservation (split): splits != kept")
    train_docs, train_tokens = split_census.get("train", (0, 0))
    if ledger["pack"]["docs"] != train_docs:
        errors.append("pack plan lost/duplicated train docs")
    if ledger["pack"]["tokens"] != train_tokens:
        errors.append("pack plan token total != train tokens")
    if ledger["export"]["rows"] != train_docs:
        errors.append("export manifest rows != train docs")
    if ledger["export"]["tokens"] != train_tokens:
        errors.append("export manifest tokens != train tokens")
    if errors:
        raise ValueError(
            "pretrain_run invariants violated: " + "; ".join(errors)
        )
    ledger["invariants_ok"] = True
    return ledger
