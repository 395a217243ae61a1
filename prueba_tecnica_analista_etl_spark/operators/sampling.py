"""Content-leakage audit for hash-of-key splits.

The declared split/sample queries (q_train_val_split, q_mixture_sample,
q_stratified_sample) assign every row by a hash of its key and never by
rand(): re-runs, retries, upstream re-orders and incremental refreshes
must give a row the SAME split, or train/validation leakage creeps in
over a pipeline's lifetime. What a key hash cannot prevent is the same
content under two keys, which :func:`split_leakage_census` measures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_AUDITED = ("val", "test")


def split_leakage_census(df: DataFrame, content_col: str) -> DataFrame:
    """Content-leakage audit across an assigned ``split`` column: for
    the ``val`` and ``test`` splits, how many of their rows carry
    content whose fingerprint ALSO appears in the ``train`` split.

    A hash-of-key split (q_train_val_split) guarantees a KEY never
    straddles splits — but two different keys can carry byte-identical content (mirrors,
    re-crawls, boilerplate), and that is the leakage an eval split
    actually suffers: the model has seen the val document, under
    another id. This census quantifies it before anyone trains.

    Shape: ONE hash shuffle keyed on the md5 content fingerprint
    (conditional counts per split), then a census-sized global
    aggregate per audited split (partial-agged — the exchange carries
    one row per partition). Join-free: the per-fingerprint frame
    already knows both sides. Output: (split, docs, leaked), one row
    per audited split.
    """
    fp = F.md5(F.col(content_col))
    s = df.select(F.col("split").alias("_split"), fp.alias("_fp"))
    aggs = [F.count_if(F.col("_split") == "train").alias("_n_ref")] + [
        F.count_if(F.col("_split") == a).alias(f"_n_{a}") for a in _AUDITED
    ]
    g = s.groupBy("_fp").agg(*aggs)
    # ONE global aggregate carries every audited split's sums (a
    # union of per-split aggregates would recompute the scan AND the
    # fingerprint shuffle once per split); the 2x|audited| counters
    # then explode into per-split rows — the q_filter_funnel
    # one-pass census pattern.
    sums = []
    for a in _AUDITED:
        n = F.col(f"_n_{a}")
        sums.append(F.sum(n).cast("long").alias(f"_docs_{a}"))
        sums.append(
            F.sum(F.when(F.col("_n_ref") > 0, n).otherwise(0))
            .cast("long")
            .alias(f"_leaked_{a}")
        )
    totals = g.agg(*sums)
    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("split"),
                F.col(f"_docs_{a}").alias("docs"),
                F.col(f"_leaked_{a}").alias("leaked"),
            )
            for a in _AUDITED
        ]
    )
    return totals.select(F.explode(rows).alias("_r")).select(
        "_r.split", "_r.docs", "_r.leaked"
    )
