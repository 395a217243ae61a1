"""Semi-join reduction via a broadcast bitset (runtime-filter pattern).

At 100 TB the expensive part of ``fact SEMI JOIN dim`` is shuffling
(or even scanning forward) fact rows that will never match. Engines
solve it with runtime bloom filters; this operator is the explicit,
deterministic form: hash the dim keys into a FIXED bitset
(``bits`` total — size independent of dim cardinality), ship it as an
array-of-longs literal inside the plan, and test each fact row
map-side with ``getbit`` so non-matching rows die at the scan. An
exact join afterwards removes false positives; false negatives are
impossible because both sides use the same hash.

The driver-side ``collect`` gathers DISTINCT BUCKET IDS — bounded at
``bits`` ints no matter how large the dim is (census-sized, same
class as an IVF model). NULL fact keys fail the bit test exactly as
they fail an equi-join, so composition with the exact semi-join is
row-identical to the plain semi-join (property-tested).

Used by q_bloom_semi_join (plans/extensions_distributed.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bucket(col: Column, bits: int) -> Column:
    # NULL-safe on purpose: xxhash64(NULL) is the SEED CONSTANT, so a
    # bare hash would send every NULL key to one real bucket — NULL
    # fact rows would then pass the prefilter whenever that bucket is
    # occupied (and always, if the dim has a NULL key), surviving to
    # the join they can never match. Propagating NULL instead makes
    # the getbit test NULL → filter false → NULL keys die map-side,
    # which is the equi-join semantics the docstring promises.
    return F.when(
        col.isNotNull(), F.pmod(F.xxhash64(col), F.lit(bits))
    )


def bitset_words(dim: DataFrame, dim_key: str, bits: int = 8192) -> list[int]:
    """Collect the dim side's occupied hash buckets into a bitset,
    packed as signed 64-bit words (LongType-literal ready)."""
    if bits % 64 != 0:
        raise ValueError("bits must be a multiple of 64")
    buckets = [
        r[0]
        for r in dim.select(_bucket(F.col(dim_key), bits).alias("b"))
        .distinct()
        .collect()
        if r[0] is not None  # NULL dim keys can never match anything
    ]
    words = [0] * (bits // 64)
    for b in buckets:
        words[b // 64] |= 1 << (b % 64)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bitset_prefilter(
    fact: DataFrame,
    fact_key: str,
    words: list[int],
    bits: int = 8192,
) -> DataFrame:
    """Keep only fact rows whose key hashes into an occupied bucket —
    a map-side filter (no shuffle, no false negatives)."""
    b = _bucket(F.col(fact_key), bits)
    word = F.element_at(F.lit(words), (b / 64).cast("int") + 1)
    return fact.filter(F.getbit(word, (b % 64).cast("int")) == 1)


def bitset_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    bits: int = 8192,
    words: list[int] | None = None,
) -> DataFrame:
    """``fact LEFT SEMI JOIN dim`` with the bitset prefilter below the
    join. Row-identical to the plain semi-join; the dim is broadcast,
    so it must be known-small. Pass staged ``words`` (from
    :func:`bitset_words`, memoized per corpus via
    artifacts.census_artifact) to skip the dim census; they MUST come
    from the same (dim, dim_key, bits) or the prefilter could drop
    true matches."""
    if words is None:
        words = bitset_words(dim, dim_key, bits)
    pre = bitset_prefilter(fact, fact_key, words, bits)
    right = F.broadcast(dim)
    return pre.join(
        right, pre[fact_key] == right[dim_key], "left_semi"
    )
