"""Bit-equality proof for the exact-integer fixed-point logarithm.

q_perplexity_buckets' driver hash flipped twice because its sort key
carried (directly, then quantized) a runtime ``ln`` — a 1-ulp libm
disagreement between the JVM and DuckDB at a grid boundary moved a doc
across a tertile edge.  The per-term weight is therefore computed with
ONLY 64-bit integer arithmetic (stages.text._LOG_P), so the two
engines agree bit-for-bit BY CONSTRUCTION, not by libm luck.

This test locks the construction: the Spark expression, the generated
DuckDB CTE chain, and an independent pure-Python big-int reference must
produce IDENTICAL values on a randomized grid of (total, cnt) pairs —
including adversarial cases (exact powers of two, cnt=total, cnt=1,
near-boundary ratios) where float log implementations disagree.
"""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.plans.extensions_pipeline import (
    _nlp6_duckdb_ctes,
)
from prueba_tecnica_analista_etl_spark.stages.text import (
    _LN2_1E6,
    _LOG_K,
    _LOG_P,
    _nlp6_spark_expr,
)


def _nlp6_py(total: int, cnt: int) -> int:
    """Independent reference: Python arbitrary-precision integers."""
    P, K = _LOG_P, _LOG_K
    e = (total // cnt).bit_length() - 1
    y = (total << P) // (cnt << e)
    L = e
    for _ in range(K):
        z = y * y
        if z >= 1 << (2 * P + 1):
            y = z >> (P + 1)
            L = L * 2 + 1
        else:
            y = z >> P
            L = L * 2
    return (L * _LN2_1E6 + (1 << (K - 1))) >> K


def _cases() -> list[tuple[int, int]]:
    rng = random.Random(0xE1)
    cases = [
        (1, 1),
        (2, 1),
        (3, 2),
        (2**40, 1),
        (2**40, 2**20),
        (2**62 - 1, 1),
        (2**62 - 1, 2**62 - 2),
        (10**12, 3),
        (6_000_000, 250_000),
    ]
    for _ in range(120):
        total = rng.randint(1, 2**62 - 1)
        cases.append((total, rng.randint(1, total)))
    for _ in range(40):  # near-unity ratios: the hardest grid cells
        cnt = rng.randint(10**6, 10**9)
        cases.append((cnt + rng.randint(0, 1000), cnt))
    return cases


def test_nlp6_accuracy_python():
    """The integer log tracks ln(total/cnt)*1e6 within a few grid
    units — a score-quality pin, independent of any engine."""
    import math

    for total, cnt in _cases():
        got = _nlp6_py(total, cnt)
        want = math.log(total / cnt) * 1e6
        # two error sources: fixed-point truncation (a few absolute
        # grid units) and the integer ln(2)*1e6 scale constant
        # (0.18 ppm relative — a UNIFORM scale factor, invisible to
        # any ordering built on the weights).
        assert abs(got - want) <= 4 + 3e-7 * want, (total, cnt, got)


def test_nlp6_spark_matches_python(spark):
    cases = _cases()
    df = spark.createDataFrame(cases, "total bigint, cnt bigint")
    out = df.select(
        "total", "cnt", F.expr(_nlp6_spark_expr()).alias("nlp6")
    ).collect()
    assert len(out) == len(cases)
    for r in out:
        assert r.nlp6 == _nlp6_py(r.total, r.cnt), (r.total, r.cnt)


def test_nlp6_duckdb_matches_python():
    ctes, final = _nlp6_duckdb_ctes()
    con = duckdb.connect()
    values = ", ".join(f"({t}, {c})" for t, c in _cases())
    sql = f"""
    WITH vocab AS (SELECT CAST(t AS BIGINT) AS total,
                          CAST(c AS BIGINT) AS cnt,
                          'x' AS term
                   FROM (VALUES {values}) v(t, c)),
         n AS (SELECT 1 AS one),
         {ctes}
    SELECT total, cnt, nlp6 FROM {final}
    """
    # the generated chain expects vocab(term, cnt) CROSS JOIN n(total);
    # here vocab already carries total, and n is a 1-row dummy.
    for total, cnt, nlp6 in con.execute(sql).fetchall():
        assert nlp6 == _nlp6_py(total, cnt), (total, cnt, nlp6)


def test_nlp6_monotone_in_ratio():
    """Score ordering sanity: larger total/cnt ratio never yields a
    smaller weight (monotonicity survives the truncating divisions
    because every step's truncation is monotone in y)."""
    from fractions import Fraction

    pairs = sorted(_cases(), key=lambda tc: Fraction(tc[0], tc[1]))
    vals = [_nlp6_py(t, c) for t, c in pairs]
    for a, b in zip(vals, vals[1:]):
        assert a <= b
