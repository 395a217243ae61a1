"""Vector/similarity builders over ``array<float>`` embedding columns
(north-star extension: similarity search for training-data pipelines).

Everything computes in DOUBLE with sequential fold order so results are
bit-identical to a straightforward loop (and to DuckDB's
``list_dot_product`` on DOUBLE[]) — which is what makes the cosine
queries oracle-checkable at 4dp.

Scale path: brute-force top-k is one broadcast + one pass (fine for one
query vector over any corpus size); for all-pairs / many-query ANN use
the LSH bucketing in ``plans/extensions_scale.py`` which turns O(n²)
into per-bucket work.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (index order, double accumulation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(v: Column) -> Column:
    return F.sqrt(dot(v, v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def random_hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes for sign-LSH (seeded PRNG — stable
    across runs/engines; no Date/now dependence). The seed is part of
    every LSH signature the artifact store and the oracles embed."""
    rng = random.Random(42)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(n_planes)
    ]


def assign_clusters(v: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid id by cosine (spherical k-means assignment).

    The k×dim centroid matrix rides inside the UDF closure (broadcast
    with the task binary — KBs); each Arrow batch is ONE normalized
    matmul + argmax. This is the IVF index's partition function: at
    100 TB the corpus would be written partitioned by this id so a
    query reads only the probed partitions.
    """
    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(
        np.linalg.norm(C, axis=1, keepdims=True), 1e-12
    )

    @F.pandas_udf(T.IntegerType())
    def _assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:  # empty Arrow batch: (0,) @ (k,dim).T raises
            return pd.Series(np.empty(0, dtype=np.int32))
        M = np.asarray(vs.tolist(), dtype=np.float64)
        Mn = M / np.maximum(
            np.linalg.norm(M, axis=1, keepdims=True), 1e-12
        )
        return pd.Series((Mn @ Cn.T).argmax(axis=1).astype(np.int32))

    return _assign(v)


def ivf_fit(
    df,
    vec_col: str,
    id_col: str,
    k: int = 16,
    iters: int = 2,
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer (IVF training).

    Seeds = the k rows with the lowest ids (stable, data-derived — no
    RNG); each Lloyd iteration is one distributed assignment pass plus
    a posexplode/avg centroid update whose driver collect is k×dim
    scalars (the MODEL, not data — O(k·dim), scale-independent).
    Centroid components are rounded to 6dp after each update so the
    partition-order-dependent last bits of the double `avg` cannot make
    training nondeterministic across runs.
    """
    seed_rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    C = np.asarray([r[0] for r in seed_rows], dtype=np.float64)
    for _ in range(iters):
        assigned = df.withColumn(
            "_c", assign_clusters(F.col(vec_col), C)
        )
        rows = (
            assigned.select(
                "_c", F.posexplode(vec_col).alias("pos", "x")
            )
            .groupBy("_c", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        C2 = C.copy()
        for r in rows:
            C2[r["_c"], r["pos"]] = r["m"]
        C = np.round(C2, 6)  # empty clusters keep their old centroid
    return C


def sign_bits(v: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH signature: one bit per hyperplane packed into a long.
    Buckets preserve cosine locality (SimHash for dense vectors).

    ENGINE-NEUTRAL by construction (what makes q_ann_lsh
    oracle-backed rather than rows-only): the vector is quantized onto the
    ``floor(x·1e6 + 0.5)`` integer grid BEFORE the ±1-plane dot
    products, so each dot is a sum of int64 terms (≤ ~64·1e6, far
    inside both int64 and double's 2^53 exact range) — exact in ANY
    summation order, hence bit-identical between this matmul, a
    sequential SQL fold, and DuckDB's ``list_dot_product`` on the
    same grid. Unquantized float dots would hinge the sign on
    association order near zero (the repo-wide no-float-sort-key
    rule applied to sign thresholds).

    Arrow-batched Pandas UDF: the n_planes dot products are ONE numpy
    matmul per batch. The equivalent native expression (n_planes ×
    64-element ``aggregate`` folds) blows past codegen limits and falls
    back to interpreted evaluation — measured ~10× slower than this
    vectorized path; per-row Python would be ~100× slower still.
    """
    P = np.asarray(planes, dtype=np.int64).T  # dim × n_planes, ±1
    if not np.isin(P, (-1, 1)).all():
        raise ValueError(
            "sign_bits requires ±1 hyperplanes (random_hyperplanes's "
            "contract) — arbitrary floats would break the exact "
            "integer-grid signature"
        )
    weights = (1 << np.arange(P.shape[1])).astype(np.int64)

    @F.pandas_udf(T.LongType())
    def _sig(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:  # empty Arrow batch: (0,) @ P raises
            return pd.Series(np.empty(0, dtype=np.int64))
        M = np.asarray(vs.tolist(), dtype=np.float64)  # batch × dim
        if M.shape[1] != P.shape[0]:
            raise ValueError(
                f"sign_bits: embedding dim {M.shape[1]} != plane dim "
                f"{P.shape[0]} — regenerate the hyperplanes for this "
                "corpus's dimension"
            )
        Q = np.floor(M * 1e6 + 0.5).astype(np.int64)
        bits = (Q @ P) >= 0
        return pd.Series(bits @ weights)

    return _sig(v)


def sign_words(
    v: Column, planes: list[list[float]], bits_per_word: int = 32
) -> Column:
    """Multi-word sign-LSH signature: ``sign_bits`` generalized past 64
    planes by packing bit ``j`` of word ``w`` from plane index
    ``w*bits_per_word + j`` into an ``array<bigint>`` of
    ``ceil(n_planes/bits_per_word)`` words.

    Same engine-neutral construction as ``sign_bits`` (the
    ``floor(x·1e6 + 0.5)`` integer grid before the ±1-plane dots, so
    every sign is exact in any summation order and the words are
    bit-identical between this matmul and a DuckDB CASE-sum on the
    same grid). 32 bits/word by default so every packed value stays
    far under the signed-64 range in BOTH engines — no ``1<<63``
    sign-bit edge to reason about cross-engine.

    Why words instead of one wide value: a 128-bit signature is the
    retune the recall sweep (q_ann_recall) demanded for the shipped
    retrieval tier — 16 bits under-recalls badly at moderate cosine —
    and hamming over words is just the SUM of per-word
    ``bit_count(xor)``, identical SQL both sides. At 100 TB the
    signature column is 16 bytes/vector: the candidate scan reads
    signatures only (a 32× I/O cut vs the 64-dim float vectors) and
    the exact cosine touches candidates alone.
    """
    P = np.asarray(planes, dtype=np.int64).T  # dim × n_planes, ±1
    if not np.isin(P, (-1, 1)).all():
        raise ValueError(
            "sign_words requires ±1 hyperplanes (random_hyperplanes's "
            "contract) — arbitrary floats would break the exact "
            "integer-grid signature"
        )
    if not (1 <= bits_per_word <= 62):
        raise ValueError("bits_per_word must stay inside signed-64")
    n_planes = P.shape[1]
    n_words = -(-n_planes // bits_per_word)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series(np.empty(0, dtype=object))
        M = np.asarray(vs.tolist(), dtype=np.float64)
        if M.shape[1] != P.shape[0]:
            raise ValueError(
                f"sign_words: embedding dim {M.shape[1]} != plane dim "
                f"{P.shape[0]} — regenerate the hyperplanes for this "
                "corpus's dimension"
            )
        Q = np.floor(M * 1e6 + 0.5).astype(np.int64)
        bits = (Q @ P) >= 0  # batch × n_planes
        words = np.zeros((len(M), n_words), dtype=np.int64)
        for w in range(n_words):
            chunk = bits[:, w * bits_per_word : (w + 1) * bits_per_word]
            weights = (1 << np.arange(chunk.shape[1])).astype(np.int64)
            words[:, w] = chunk @ weights
        return pd.Series(list(words))

    return _sig(v)


def hamming_words(a: Column, b: Column) -> Column:
    """Hamming distance between two multi-word signatures (the
    ``sign_words`` layout): the sum of per-word ``bit_count(xor)`` —
    a handful of integer ops per row, no UDF. DuckDB twin:
    ``bit_count(xor(a1,b1)) + bit_count(xor(a2,b2)) + ...``."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
