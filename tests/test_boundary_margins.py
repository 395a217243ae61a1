"""Rounding-boundary margin sweep for every float-derived sort key.

The class of driver flip that bit q_perplexity_buckets twice:
a float value that feeds a ROUNDED sort/group key sits within a few
ulps of a rounding boundary, the JVM's and DuckDB's libm disagree by
1 ulp, and the two engines round to different grid cells — changing
row membership/order of the recorded result.  q_perplexity_buckets is
now immune by construction (pure-integer fixed-point log key, see
tests/test_intlog.py); the remaining rounded keys in the registry are
q_tfidf's ``round(tf*idf, 4)`` and the cosine keys of
q_similarity_topk / q_ann_batch.

This sweep computes the RAW (unrounded) key for every row that can
influence the recorded output and asserts its distance to the nearest
round-4 boundary exceeds a margin that is orders of magnitude above
libm drift — converting the flip class from "discovered by the
external driver" to "caught locally before shipping".  Margins are in
grid units (x*1e4 space): 1-ulp drift on these O(1..1e3) values is
below 1e-8 grid units; the 1e-6 margin is 100x above it and far below
the ~0.5 typical distance of a uniformly-placed value.

Runs on DuckDB directly (fast, no Spark session): the sweep measures
DISTANCE, and at margin scale the measuring engine's own drift is
irrelevant.  Uses the oracle sf-dir so the sweep covers the same data
the driver records.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

MARGIN = 1e-6  # grid units on the 1e-4 rounding lattice


def _boundary_dist(x: float) -> float:
    """Distance of x*1e4 to the nearest half-integer (the round-4
    decision boundary), in grid units."""
    return abs((x * 1e4) % 1.0 - 0.5)


@pytest.fixture(scope="module")
def con(oracle_sf_dir):
    c = duckdb.connect()
    for t in ("documents", "embeddings"):
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(oracle_sf_dir, t)}.parquet')"
        )
    return c


def _assert_margins(rows, label):
    assert rows, f"{label}: sweep selected no rows"
    worst = min(_boundary_dist(r[0]) for r in rows)
    assert worst > MARGIN, (
        f"{label}: a raw key sits {worst:.3e} grid units from a "
        f"round-4 boundary (margin {MARGIN}) — engines may round it "
        "differently; change the key's quantization before the "
        "driver discovers it"
    )


def test_tfidf_key_margins(con):
    """Top-20 recorded + 40-row buffer below the cut: any of these
    flipping its 4th decimal could change the recorded top-20."""
    rows = con.execute(
        """
        WITH toks AS (SELECT doc_id,
                             unnest(string_split(lower(text), ' '))
                               AS term
                      FROM documents),
             tf AS (SELECT doc_id, term, count(*) AS tf
                    FROM toks WHERE term <> ''
                    GROUP BY doc_id, term),
             dfreq AS (SELECT term, count(*) AS df FROM tf
                       GROUP BY term),
             n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) AS raw
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
        ORDER BY raw DESC LIMIT 60
        """
    ).fetchall()
    _assert_margins(rows, "q_tfidf")


def test_similarity_topk_key_margins(con):
    """Every candidate cosine (the corpus is model-sized at harness
    SFs; at scale only the top region matters, but sweeping all rows
    is strictly stronger)."""
    rows = con.execute(
        """
        WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id = 0)
        SELECT list_dot_product(CAST(embedding AS DOUBLE[]), qv)
               / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(qv, qv))) AS raw
        FROM embeddings, q WHERE vec_id <> 0
        """
    ).fetchall()
    _assert_margins(rows, "q_similarity_topk")


def test_ann_batch_key_margins(con):
    """Top-10 per query (3 recorded + buffer) for the 8-query batch."""
    rows = con.execute(
        """
        WITH q AS (SELECT vec_id AS q_id,
                          CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 8),
             scored AS (
               SELECT q.q_id,
                      list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       q.qv)
                      / (sqrt(list_dot_product(
                           CAST(e.embedding AS DOUBLE[]),
                           CAST(e.embedding AS DOUBLE[])))
                         * sqrt(list_dot_product(q.qv, q.qv))) AS raw,
                      row_number() OVER (
                        PARTITION BY q.q_id
                        ORDER BY list_dot_product(
                            CAST(e.embedding AS DOUBLE[]), q.qv)
                          / (sqrt(list_dot_product(
                               CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])))
                             * sqrt(list_dot_product(q.qv, q.qv)))
                          DESC,
                          e.vec_id) AS rn
               FROM embeddings e, q WHERE e.vec_id <> q.q_id)
        SELECT raw FROM scored WHERE rn <= 10
        """
    ).fetchall()
    _assert_margins(rows, "q_ann_batch")


def test_margin_detector_detects():
    """The sweep itself must catch a planted boundary value — guard
    against a vacuous detector."""
    assert _boundary_dist(0.00005) < MARGIN  # exactly on a boundary
    assert _boundary_dist(1.23455) < 1e-4
    assert _boundary_dist(0.0001) > 0.4  # grid center is safe
    with pytest.raises(AssertionError):
        _assert_margins([(0.00005,)], "planted")
