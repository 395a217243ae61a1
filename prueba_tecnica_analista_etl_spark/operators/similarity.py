"""DataFrame-first similarity-search operators — the user-facing API
behind the ``embeddings``-table queries (q_similarity_topk and
q_ann_batch are these at the harness defaults). Works over ANY frame
carrying an id column and an ``array<float/double>`` vector column.

Shapes (both proven by the declared queries' plan pins):

* :func:`cosine_topk` — one query vector, broadcast as a literal
  array; ONE corpus scan into ``TakeOrderedAndProject`` (partial
  top-k per partition, no global sort).
* :func:`cosine_topk_batch` — a query FRAME (small: broadcast);
  per-query ranking via a window whose ``rn <= k`` predicate gets
  ``WindowGroupLimit`` pruning, so a whole query batch costs one
  corpus pass regardless of query count.

For the single-unbounded-query-set regime use the sign-LSH / IVF
paths in ``stages/vectors.py`` — these operators are the
exact brute-force baseline those approximate paths are recalled
against.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.functions.vectors import (
    as_double,
    cosine,
    dot,
    norm,
)


def cosine_topk(
    emb: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-``k`` rows of ``emb`` for one ``query`` vector
    (a driver-side sequence of floats — model-sized, embedded as a
    literal array so the plan is map-only + partial top-k). Output:
    (``id_col``, cos_sim) ordered by similarity desc, id asc."""
    qv = F.array(*[F.lit(float(x)) for x in query])
    return (
        emb.select(
            F.col(id_col),
            F.round(
                cosine(as_double(F.col(vec_col)), qv), 4
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_batch(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    carry_cols: "tuple[str, ...]" = (),
    query_carry_cols: "tuple[str, ...]" = (),
    rank_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-``k`` per query for a whole query FRAME in one
    corpus scan over (``vec_id``, ``embedding``): ``queries`` (small —
    it is broadcast) carries (``q_id``, ``qv``); output is one row per
    (query, neighbor) with ``cos_sim``, ranked per query.
    Neighbor rows whose id equals the query id are dropped (the
    self-match every nearest-neighbor probe over its own corpus would
    otherwise return). ``carry_cols`` rides extra corpus
    columns (e.g. a label) through to the output — at 100 TB a
    consumer joining them back on would pay a SECOND full-corpus
    read; carrying them keeps the op one scan (q_knn_classify).
    ``query_carry_cols`` does the same for QUERY-side columns
    (e.g. the probe's own label): they ride the already-broadcast
    query frame, so a consumer stops re-reading the corpus a third
    time just to join the probe attribute back on."""
    # Query-side carries must not collide with corpus-side output
    # columns: a clash would surface only as an
    # ambiguous-reference AnalysisException at first use of the
    # duplicate name — fail fast with the actual conflict instead.
    clash = set(query_carry_cols) & {"vec_id", *carry_cols}
    if clash:
        raise ValueError(
            "query_carry_cols collide with corpus-side output "
            f"columns {sorted(clash)}; alias the query-side columns "
            "before calling cosine_topk_batch"
        )
    # Norms are hoisted BELOW the cross join: cosine(v, qv) inline
    # would re-fold dot(v, v) once per (row, query) pair — |Q|× the
    # necessary work, since Catalyst's subexpression elimination works
    # within one row's projection, not across the join fan-out.
    # Computing each side's norm once before the join cuts the fold
    # count per pair from three to one, and the final expression
    # dot/(norm*norm) is the exact same float-op sequence cosine()
    # produces — bit-identical scores, just not recomputed.
    e = emb.select(
        F.col("vec_id"),
        *[F.col(c) for c in carry_cols],
        as_double(F.col("embedding")).alias("_v"),
    ).withColumn("_nv", norm(F.col("_v")))
    q = queries.select(
        F.col("q_id").alias("_qid"),
        *[F.col(c) for c in query_carry_cols],
        as_double(F.col("qv")).alias("_qv"),
    ).withColumn("_nq", norm(F.col("_qv")))
    scored = e.crossJoin(F.broadcast(q)).withColumn(
        "_cos",
        dot(F.col("_v"), F.col("_qv")) / (F.col("_nv") * F.col("_nq")),
    ).filter(F.col("vec_id") != F.col("_qid"))
    w = Window.partitionBy("_qid").orderBy(F.desc("_cos"), F.asc("vec_id"))
    # rank_col: expose the per-query rank (the window's row_number
    # over UNROUNDED cosine + id tie-break) — ranking consumers
    # (nDCG) need the position, and re-deriving it from the ROUNDED
    # cos_sim outside could tie where the true ordering did not.
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("_qid").alias("q_id"),
            F.col("vec_id"),
            *[F.col(c) for c in carry_cols],
            *[F.col(c) for c in query_carry_cols],
            *(
                [F.col("_rn").cast("int").alias(rank_col)]
                if rank_col
                else []
            ),
            F.round(F.col("_cos"), 4).alias("cos_sim"),
        )
    )
