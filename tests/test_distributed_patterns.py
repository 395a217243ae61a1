"""Semantics tests for plans/extensions_distributed.py — the
distributed-algebra patterns. Oracle parity is covered registry-wide
by test_oracle_parity and each query's plan shape by
test_plan_assertions; these pin what the scale forms rely on
(prefilter soundness, merge == recompute under arbitrary splits,
funnel monotonicity, the rank scheme's seams).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.plans.extensions_distributed import (
    _BLOOM_BITS,
    q_bloom_semi_join,
    q_filter_funnel,
    q_global_rank,
    q_incremental_agg_merge,
    q_winsorize,
)
from prueba_tecnica_analista_etl_spark.plans.queries import _t, dec2


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_global_rank_matches_window_rank(spark, sf_dir):
    """Bucketed rank == the single-window rank Spark itself computes
    (independent of the DuckDB oracle): ties across the bucket seam
    would break equality, so this pins the same-value-same-bucket
    invariant."""
    got = {
        r["event_id"]: r["global_rank"]
        for r in q_global_rank(spark, sf_dir).collect()
    }
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    want = {
        r["event_id"]: r["rank"]
        for r in ev.select(
            "event_id",
            F.rank().over(Window.orderBy("value")).alias("rank"),
        ).collect()
    }
    assert got == want


def test_bucketed_rank_on_adversarial_distributions(spark):
    """The operator itself on the seams the queries can't hit: all
    rows tied (every rank 1), one row, heavy duplication across a
    tiny grid, and a degenerate lo==hi range — each compared to the
    single-window truth computed on the same frame."""
    from pyspark.sql import Window

    from prueba_tecnica_analista_etl_spark.operators.rank import (
        bucketed_rank,
        numeric_bucket,
    )

    cases = [
        [5.0] * 40,                      # all tied
        [1.0],                           # single row
        [float(i % 3) for i in range(50)],  # 3 distinct over any grid
        [float(i) for i in range(20)],   # strictly increasing
        [(-1.0) ** i * i * 0.7 for i in range(30)],  # negatives + zero
    ]
    for i, values in enumerate(cases):
        df = spark.createDataFrame(
            [(j, v) for j, v in enumerate(values)], "id long, v double"
        )
        lo, hi = min(values), max(values)
        for n_buckets in (1, 4, 16):
            got = {
                r["id"]: r["global_rank"]
                for r in bucketed_rank(
                    df, numeric_bucket(F.col("v"), lo, hi, n_buckets),
                    ["v"], method="rank",
                ).collect()
            }
            want = {
                r["id"]: r["rank"]
                for r in df.select(
                    "id", F.rank().over(Window.orderBy("v")).alias("rank")
                ).collect()
            }
            assert got == want, f"case {i} buckets {n_buckets}"


def test_train_order_is_a_reproducible_permutation(spark, sf_dir):
    """Positions are exactly 1..n (ROW_NUMBER semantics survive the
    bucket seam); rerunning yields the identical order (seeded
    shuffle)."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_distributed import (
        q_train_order,
    )

    df = q_train_order(spark, sf_dir)
    rows = df.collect()
    positions = sorted(r["position"] for r in rows)
    assert positions == list(range(1, len(rows) + 1))
    again = {r["doc_id"]: r["position"]
             for r in q_train_order(spark, sf_dir).collect()}
    assert again == {r["doc_id"]: r["position"] for r in rows}


def test_incremental_merge_equals_recompute_for_any_split(spark, sf_dir):
    """merge(state(before), state(after)) == state(all) for several
    split points, including degenerate ones (all data in one leg) —
    the property that makes delta refresh sound."""
    ev = _t(spark, sf_dir, "events")

    def full():
        return {
            r["user_id"]: (r["n"], r["tot"], r["mn"], r["mx"])
            for r in ev.groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(dec2(F.col("value"))).cast("double").alias("tot"),
                F.min("value").alias("mn"),
                F.max("value").alias("mx"),
            )
            .collect()
        }

    import prueba_tecnica_analista_etl_spark.plans.extensions_distributed as xd

    want = full()
    for split in ("2024-01-01 00:00:00", "2024-01-15 12:00:00",
                  "2031-01-01 00:00:00"):
        old = xd._SPLIT_TS
        xd._SPLIT_TS = split
        try:
            got = {
                r["user_id"]: (
                    r["n_events"], r["total_value"],
                    r["min_value"], r["max_value"],
                )
                for r in q_incremental_agg_merge(spark, sf_dir).collect()
            }
        finally:
            xd._SPLIT_TS = old
        assert got == want, f"merge != recompute at split {split}"


def test_bloom_prefilter_is_sound_and_selective(spark, sf_dir):
    """No false negatives by construction (same hash both sides) and
    the bitset actually drops most non-matching fact rows: with the
    BUILDING segment ~1/5 of customers, the pass-through fraction must
    sit well under 1 (false-positive rate ≤ load factor of the
    bitset). Soundness is already proven by oracle parity; this pins
    SELECTIVITY — the property that makes the prefilter worth its
    cost at 100 TB."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    buckets = [
        r[0]
        for r in cust.select(
            F.pmod(F.xxhash64(F.col("c_custkey")), F.lit(_BLOOM_BITS))
            .alias("b")
        ).distinct().collect()
    ]
    load = len(buckets) / _BLOOM_BITS
    orders = _t(spark, sf_dir, "orders")
    total = orders.count()
    kept = orders.filter(
        F.pmod(F.xxhash64(F.col("o_custkey")), F.lit(_BLOOM_BITS)).isin(
            buckets
        )
    ).count()
    true_matches = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"),
        "left_semi",
    ).count()
    assert kept >= true_matches  # soundness: nothing true was dropped
    # Selectivity: pass-through ≤ true fraction + bitset load factor
    # (+small slack) — i.e. the filter is doing real work.
    assert kept / total <= true_matches / total + load + 0.05


def test_bloom_semi_join_plan_filters_before_join(spark, sf_dir):
    """The bitset test must appear as a Filter below the broadcast
    semi-join (map-side, pre-shuffle), not above it."""
    plan = _plan(q_bloom_semi_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    jpos = plan.index("LeftSemi")
    fpos = plan.index("getbit")
    assert fpos > jpos  # executedPlan prints top-down: filter deeper


def test_bucketed_rank_rejects_null_keys(spark):
    """A NULL sort key has no defined place in the order (engines
    disagree: Spark NULLS FIRST, DuckDB NULLS LAST) and the offset
    join would silently DROP the row — the operator must stop with an
    actionable error instead."""
    import pytest

    from prueba_tecnica_analista_etl_spark.operators.rank import (
        bucketed_rank,
        md5_prefix_bucket,
        numeric_bucket,
    )

    with_null = spark.createDataFrame(
        [(1, 2.0), (2, None), (3, 5.0)], "id long, v double"
    )
    with pytest.raises(ValueError, match="NULL"):
        bucketed_rank(
            with_null, numeric_bucket(F.col("v"), 2.0, 5.0, 4), ["v"]
        ).collect()
    docs = spark.createDataFrame([("a",), (None,)], "doc_id string")
    bucket, key = md5_prefix_bucket(F.col("doc_id"))
    with pytest.raises(ValueError, match="NULL"):
        bucketed_rank(
            docs.withColumn("k", key), bucket, ["k"], method="row_number"
        ).collect()


def test_bitset_prefilter_kills_null_keys_map_side(spark):
    """The docstring's equi-join-parity claim for NULL keys must hold
    at the PREFILTER, not only after the exact join: a bare
    xxhash64(NULL) is the seed constant, which would let every
    NULL-key fact row through whenever the dim occupies that bucket —
    guaranteed when the dim itself has a NULL key."""
    from prueba_tecnica_analista_etl_spark.operators.bloom import (
        bitset_prefilter,
        bitset_words,
    )

    fact = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "b")], "id long, k string"
    )
    dim = spark.createDataFrame([("a",), (None,)], "dk string")
    words = bitset_words(dim, "dk", bits=64)
    kept = bitset_prefilter(fact, "k", words, bits=64).collect()
    assert all(r["k"] is not None for r in kept)
    assert {r["id"] for r in kept} >= {1}  # true match always survives


def test_bitset_semi_join_equals_plain_semi_join(spark):
    """Operator-level property: identical rows to the plain semi-join
    on frames with NULL keys, non-matching keys and an empty dim."""
    from prueba_tecnica_analista_etl_spark.operators.bloom import (
        bitset_semi_join,
    )

    fact = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "c"), (5, "a"), (6, "z")],
        "id long, k string",
    )
    for dim_rows in ([("a",), ("c",), (None,)], []):
        dim = spark.createDataFrame(dim_rows, "dk string")
        got = sorted(
            r["id"]
            for r in bitset_semi_join(fact, dim, "k", "dk", bits=64)
            .collect()
        )
        want = sorted(
            r["id"]
            for r in fact.join(
                dim, fact["k"] == dim["dk"], "left_semi"
            ).collect()
        )
        assert got == want, f"dim={dim_rows}"


def test_winsorize_clamps_within_cuts(spark, sf_dir):
    """Every group's cut pair is ordered and the winsorized sum lies
    between n*lo and n*hi — the invariant that survives any data."""
    for r in q_winsorize(spark, sf_dir).collect():
        assert r["lo_cut"] <= r["hi_cut"]
        n, s = r["n_events"], r["winsorized_sum"]
        assert n * r["lo_cut"] - 1e-6 <= s <= n * r["hi_cut"] + 1e-6


def test_winsorize_integer_ranks_on_tiny_groups(spark):
    """n=1 and n=20 edge cases of the integer rank arithmetic:
    ceil(n/20) and ceil(19n/20) via (n+19) div 20 / (19n+19) div 20."""
    for n, lo, hi in [(1, 1, 1), (19, 1, 19), (20, 1, 19), (21, 2, 20),
                      (40, 2, 38)]:
        assert (n + 19) // 20 == -(-n // 20) == lo
        assert (19 * n + 19) // 20 == -(-19 * n // 20) == hi


def test_inverted_index_caps_postings_via_window_group_limit(spark, sf_dir):
    """No emitted posting list exceeds the cap, even when df does (the
    rank filter compiling to WindowGroupLimit is the query's shape)."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_distributed import (
        _POSTINGS_CAP,
        q_inverted_index,
    )

    df = q_inverted_index(spark, sf_dir)
    for r in df.collect():
        # postings serialize to a canonical comma-joined string (the
        # recorded window hashes only driver-proven scalar dtypes)
        ids = [int(x) for x in r["postings"].split(",")]
        assert 1 <= len(ids) <= _POSTINGS_CAP
        assert ids == sorted(ids)
        assert r["df"] >= len(ids)


def test_filter_funnel_is_monotone_and_single_scan(spark, sf_dir):
    df = q_filter_funnel(spark, sf_dir)
    rows = df.collect()
    survivors = [r["survivors"] for r in sorted(rows, key=lambda r: r["stage"])]
    assert len(survivors) == 4
    assert survivors == sorted(survivors, reverse=True)
    # One scan: exactly one parquet FileScan of documents in the plan
    # (AQE prints Final + Initial sections — count the final only).
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1


def test_unpivot_round_trips_the_pivot(spark, sf_dir):
    """unpivot(pivot(x)) must equal the plain long-form aggregate —
    the reshape algebra is lossless because the pivot's explicit value
    list + zero-fill makes the matrix dense."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_distributed import (
        q_unpivot_long,
    )

    df = q_unpivot_long(spark, sf_dir)
    got = {
        (r["o_orderpriority"], r["status"]): r["cnt"] for r in df.collect()
    }
    o = _t(spark, sf_dir, "orders")
    long = {
        (r["o_orderpriority"], r["o_orderstatus"]): r["cnt"]
        for r in o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    # Dense matrix: every (priority, status in F/O/P) cell is present,
    # zero-filled where the long form has no row.
    statuses = {s for _, s in got}
    assert statuses == {"F", "O", "P"}
    for (pri, st), cnt in got.items():
        assert cnt == long.get((pri, st), 0)
    assert all((pri, st) in got for (pri, st) in long if st in statuses)


def test_rolling_distinct_semantics_and_bounded_expansion(spark, sf_dir):
    """Each day's users_7d must equal the brute-force distinct count
    over the trailing 7 calendar days, sit between the single-day
    distinct and the 7-day sum of single-day distincts."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_distributed import (
        q_rolling_distinct,
    )

    df = q_rolling_distinct(spark, sf_dir)
    got = {r["day"]: r["users_7d"] for r in df.collect()}

    ev = _t(spark, sf_dir, "events")
    per_day = (
        ev.filter(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
        .collect()
    )
    from collections import defaultdict

    day_users = defaultdict(set)
    for r in per_day:
        day_users[r["day"]].add(r["user_id"])
    import datetime

    for day, n in got.items():
        window_users = set()
        singles = 0
        for back in range(7):
            d = day - datetime.timedelta(days=back)
            window_users |= day_users.get(d, set())
            singles += len(day_users.get(d, set()))
        assert n == len(window_users), day
        assert len(day_users[day]) <= n <= singles


def test_bucketed_prefix_sums_on_adversarial_distributions(spark):
    """bucketed_prefix_sums vs the single-window truth on its seams:
    one key, a degenerate lo==hi grid, keys straddling every bucket
    boundary, negatives, and a second summed column — exclusive
    semantics (strictly-before totals) must hold through the offset
    join for every bucket count."""
    from pyspark.sql import Window

    from prueba_tecnica_analista_etl_spark.operators.rank import (
        bucketed_prefix_sums,
        numeric_bucket,
    )

    cases = [
        [(5.0, 3, 1)],                                  # single key
        [(float(i), i + 1, i % 2) for i in range(20)],  # increasing
        [((-1.0) ** i * i * 0.7, 2, 1) for i in range(15)],  # negatives
        [(0.0, 7, 2), (1e-12, 1, 0)],                   # near-degenerate
    ]
    for i, rows in enumerate(cases):
        df = spark.createDataFrame(rows, "v double, cnt long, pos long")
        lo = min(r[0] for r in rows)
        hi = max(r[0] for r in rows)
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        want = {
            r["v"]: (r["c1"], r["c2"])
            for r in df.select(
                "v",
                F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("c1"),
                F.coalesce(F.sum("pos").over(w), F.lit(0)).alias("c2"),
            ).collect()
        }
        for n_buckets in (1, 4, 16):
            got = {
                r["v"]: (r["cum_cnt"], r["cum_pos"])
                for r in bucketed_prefix_sums(
                    df,
                    numeric_bucket(F.col("v"), lo, hi, n_buckets),
                    "v",
                    ["cnt", "pos"],
                ).collect()
            }
            assert got == want, f"case {i} buckets {n_buckets}"


def test_bucketed_prefix_sums_rejects_null_keys(spark):
    """A NULL order key has no place in the cumulative order — the
    operator must stop, not silently drop or misplace the row
    (bucketed_rank's rule)."""
    import pytest

    from prueba_tecnica_analista_etl_spark.operators.rank import (
        bucketed_prefix_sums,
        numeric_bucket,
    )

    df = spark.createDataFrame(
        [(1.0, 1), (None, 2)], "v double, cnt long"
    )
    with pytest.raises(ValueError, match="NULL"):
        bucketed_prefix_sums(
            df, numeric_bucket(F.col("v"), 0.0, 2.0, 4), "v", ["cnt"]
        )


def test_eval_auc_hand_computed():
    """AUC identity on a hand-checkable frame (the registry function's
    exact arithmetic path re-applied to a tiny in-memory oracle)."""
    # Perfect separation: positives score above every negative.
    # AUC = 1. Then a tie block: one pos and one neg tied -> 0.5.
    def auc(rows):
        # rows: (score, label)
        from collections import Counter

        cnt = Counter(s for s, _ in rows)
        pos = Counter(s for s, l in rows if l)
        npos = sum(pos.values())
        n = len(rows)
        r2 = 0
        for s in cnt:
            below = sum(c for v, c in cnt.items() if v < s)
            r2 += pos[s] * (2 * below + cnt[s] + 1)
        return (r2 - npos * (npos + 1)) / (2 * npos * (n - npos))

    assert auc([(1.0, 0), (2.0, 0), (3.0, 1), (4.0, 1)]) == 1.0
    assert auc([(1.0, 0), (1.0, 1)]) == 0.5
    assert auc([(3.0, 0), (4.0, 0), (1.0, 1), (2.0, 1)]) == 0.0


def test_artifact_cache_invalidates_on_corpus_rewrite(spark, tmp_path):
    """A corpus regenerated under the SAME path must MISS
    the artifact caches (the key carries a file-stat fingerprint) —
    a stale bloom bitset silently drops true semi-join matches, so
    answering stale is the one wrong behavior. Same-content lookups
    still hit (one build per generation)."""
    import os

    from prueba_tecnica_analista_etl_spark.artifacts import (
        census_artifact,
        corpus_artifact,
    )

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)

    def write(payload: str) -> None:
        with open(os.path.join(corpus, "t.parquet"), "w") as fh:
            fh.write(payload)

    write("generation-one")
    builds = []

    def build_census():
        builds.append("c")
        return len(builds) * 100

    assert census_artifact(spark, corpus, "x", build_census) == 100
    assert census_artifact(spark, corpus, "x", build_census) == 100
    assert builds == ["c"], "same generation must hit the cache"

    write("generation-two-(different-size)")
    assert census_artifact(spark, corpus, "x", build_census) == 200
    assert builds == ["c", "c"], "rewrite must rebuild, not answer stale"

    frames = []

    def build_frame():
        frames.append("f")
        return spark.range(len(frames))

    assert corpus_artifact(spark, corpus, "y", build_frame).count() == 1
    assert corpus_artifact(spark, corpus, "y", build_frame).count() == 1
    assert frames == ["f"]
    write("generation-three:-still-different")
    assert corpus_artifact(spark, corpus, "y", build_frame).count() == 2
    assert frames == ["f", "f"]


def test_artifact_store_survives_process_boundary(spark, tmp_path):
    """Disk layer: artifacts are one-time-per-
    CORPUS, not per-process — a lookup whose memory memo is gone (the
    fresh-process case, simulated by clearing the in-memory caches)
    must be served from the persisted parquet/JSON WITHOUT calling
    build(). clear_artifacts(name=...) voids the disk copy too (a
    name-scoped clear means the artifact's definition changed, which
    no corpus fingerprint can detect) — after it, build() runs again."""
    import os

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    with open(os.path.join(corpus, "t.parquet"), "w") as fh:
        fh.write("generation-one")

    builds = []

    def build_frame():
        builds.append("f")
        return spark.createDataFrame([(1, "a")], "id long, s string")

    def build_census():
        builds.append("c")
        return {"words": [3, 5, 7]}

    df1 = artifacts.corpus_artifact(spark, corpus, "pb_frame", build_frame)
    v1 = artifacts.census_artifact(spark, corpus, "pb_val", build_census)
    assert df1.count() == 1 and v1 == {"words": [3, 5, 7]}
    assert builds == ["f", "c"]

    # simulate a fresh process: the session memo is gone, disk intact
    artifacts.clear_artifacts(spark)
    df2 = artifacts.corpus_artifact(spark, corpus, "pb_frame", build_frame)
    v2 = artifacts.census_artifact(spark, corpus, "pb_val", build_census)
    assert builds == ["f", "c"], "fresh process must be served from disk"
    assert [r.asDict() for r in df2.collect()] == [
        r.asDict() for r in df1.collect()
    ]
    assert df2.schema == df1.schema, "schema sidecar must round-trip"
    assert v2 == v1

    # name-scoped clear removes the disk copy -> rebuild
    artifacts.clear_artifacts(name="pb_frame")
    artifacts.corpus_artifact(spark, corpus, "pb_frame", build_frame)
    assert builds == ["f", "c", "f"]

    # empty frames round-trip via the schema sidecar (a bare parquet
    # dir with zero part files cannot infer a schema)
    def build_empty():
        builds.append("e")
        return spark.createDataFrame([], "k int, t timestamp")

    e1 = artifacts.corpus_artifact(spark, corpus, "pb_empty", build_empty)
    artifacts.clear_artifacts(spark)
    e2 = artifacts.corpus_artifact(spark, corpus, "pb_empty", build_empty)
    assert builds[-1] == "e" and builds.count("e") == 1
    assert e2.count() == 0 and e2.schema == e1.schema


def test_artifact_directory_reuses_and_evicts_generations(tmp_path):
    """artifact_directory (per-process mkdtemp IVF index copies would
    leak): one build per corpus generation, reused
    across lookups; a corpus rewrite builds a NEW generation and the
    superseded directory is REMOVED from disk, not leaked."""
    import os

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)

    def write(payload: str) -> None:
        with open(os.path.join(corpus, "t.parquet"), "w") as fh:
            fh.write(payload)

    write("generation-one")
    builds = []

    def build(d: str) -> None:
        builds.append(d)
        with open(os.path.join(d, "payload"), "w") as fh:
            fh.write("x")

    p1 = artifacts.artifact_directory(corpus, "pb_dir", build)
    p1b = artifacts.artifact_directory(corpus, "pb_dir", build)
    assert p1 == p1b and len(builds) == 1
    assert os.path.isfile(os.path.join(p1, "payload"))

    write("generation-two-(different-size)")
    p2 = artifacts.artifact_directory(corpus, "pb_dir", build)
    assert p2 != p1 and len(builds) == 2
    assert not os.path.exists(p1), "superseded generation must be removed"
    assert os.path.isfile(os.path.join(p2, "payload"))


def test_versioned_commit_changes_corpus_fingerprint(spark, tmp_path):
    """A versioned commit INSIDE the corpus, made right after a
    fingerprint lookup, must change the very next lookup's
    fingerprint, so the store keys the new generation."""
    import os

    from prueba_tecnica_analista_etl_spark import artifacts
    from prueba_tecnica_analista_etl_spark.sources.versioned import (
        commit_snapshot,
    )

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    with open(os.path.join(corpus, "seed"), "w") as fh:
        fh.write("x")
    before = artifacts._corpus_fingerprint(corpus)
    commit_snapshot(
        spark.createDataFrame([(1,)], "id long"),
        os.path.join(corpus, "dim_table"),
    )
    after = artifacts._corpus_fingerprint(corpus)
    assert after != before, (
        "engine write inside the corpus must change the fingerprint"
    )


def test_store_sees_an_append_right_after_a_lookup(spark, tmp_path):
    """A part file appended to a corpus table right after a store
    lookup is seen by the very next lookup: the artifact rebuilds and
    counts the appended rows. Every lookup stats the corpus afresh, so
    no window exists in which a plain append is invisible."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = str(tmp_path / "corpus")
    table = os.path.join(corpus, "t.parquet")
    os.makedirs(table)
    pq.write_table(
        pa.table({"id": list(range(5))}), os.path.join(table, "part-0.parquet")
    )

    def lookup():
        return artifacts.corpus_artifact(
            spark,
            corpus,
            "appended_rows",
            lambda: spark.read.parquet(table).groupBy().count(),
        )

    assert lookup().first()[0] == 5
    # a store hit, then the append at once: the build above took long
    # enough that a lookup timed from it alone could not tell
    lookup()
    pq.write_table(
        pa.table({"id": [5, 6, 7]}), os.path.join(table, "part-1.parquet")
    )
    assert lookup().first()[0] == 8


def test_fingerprint_sees_a_rewrite_that_keeps_size_and_mtime(tmp_path):
    """A rewrite that keeps a file's size and restores its mtime with
    os.utime (what ``cp -p`` does) still changes the corpus
    fingerprint: the kernel sets ctime on every write and utime, and
    no caller can set it back."""
    import os

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    f = corpus / "t.parquet"
    f.write_bytes(b"generation-one")
    st = os.stat(f)
    before = artifacts._corpus_fingerprint(str(corpus))
    f.write_bytes(b"generation-two")
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    now = os.stat(f)
    assert (now.st_size, now.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    assert artifacts._corpus_fingerprint(str(corpus)) != before


def test_t_sees_an_append_to_a_cached_table(spark, tmp_path):
    """_t's per-session frame must follow the corpus: after a plain
    Spark append to a table it has already served, the next _t counts
    the appended rows instead of the listing frozen at first use."""
    corpus = str(tmp_path / "corpus")
    path = f"{corpus}/t.parquet"
    spark.range(5).write.parquet(path)
    assert _t(spark, corpus, "t").count() == 5
    spark.range(5, 9).write.mode("append").parquet(path)
    assert _t(spark, corpus, "t").count() == 9


def test_t_reads_a_table_rewritten_by_replace(spark, tmp_path):
    """After artifacts.replace swaps a new generation in for a table _t
    has served, _t's frame reads the new rows; a frame over the old
    listing would fail on files that no longer exist."""
    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = str(tmp_path / "corpus")
    path = f"{corpus}/t.parquet"
    spark.range(5).write.parquet(path)
    assert _t(spark, corpus, "t").count() == 5
    staged = str(tmp_path / "staged")
    spark.range(100, 103).write.parquet(staged)
    artifacts.replace(path, staged)
    got = sorted(r["id"] for r in _t(spark, corpus, "t").collect())
    assert got == [100, 101, 102]


def test_misra_gries_guarantee_and_bounds(spark):
    """operators/sketch.py invariants on an adversarially skewed key
    set: (a) the candidate frame is bounded by capacity×partitions;
    (b) every key above the n/(capacity+1) threshold survives (the
    classic MG guarantee, here 'hot' at 40% with capacity 4 →
    threshold 20%); (c) every candidate's second-pass count is EXACT
    (equals the full groupBy); (d) filtering candidates at the
    threshold reproduces the exact heavy-hitter answer — the property
    q_heavy_hitters' oracle-parity rests on; (e) NULL keys are
    excluded, not counted."""
    from prueba_tecnica_analista_etl_spark.operators.sketch import (
        frequent_items,
        mg_candidates,
    )

    vals = (
        ["hot"] * 2000
        + ["warm"] * 750
        + [f"tail{i}" for i in range(2250)]
        + [None] * 100
    )
    df = spark.createDataFrame(
        [(v,) for v in vals], "k string"
    ).repartition(7)
    capacity, n = 4, 5000  # NULLs excluded from n

    cand = mg_candidates(df.filter(F.col("k").isNotNull()), "k", capacity)
    n_parts = df.rdd.getNumPartitions()
    assert cand.count() <= capacity * n_parts

    got = {
        r["k"]: r["cnt"]
        for r in frequent_items(df, "k", capacity).collect()
    }
    assert None not in got
    exact = {
        r["k"]: r["cnt"]
        for r in df.filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got.get("hot") == 2000  # guarantee: 40% > 1/(4+1)
    for k, c in got.items():
        assert exact[k] == c, k  # second pass is exact, always
    passing = {k for k, c in got.items() if c * (capacity + 1) > n}
    truth = {k for k, c in exact.items() if c * (capacity + 1) > n}
    assert passing == truth == {"hot"}


def test_misra_gries_all_distinct_and_empty(spark):
    """Degenerate ends of the sketch: an all-distinct key set has NO
    heavy hitters — candidates stay bounded, the exact pass still
    returns only true counts, and the threshold filter yields the
    empty set (matching the exact answer); an empty input yields
    empty candidates and an empty result rather than an error."""
    from prueba_tecnica_analista_etl_spark.operators.sketch import (
        frequent_items,
        mg_candidates,
    )

    distinct = spark.createDataFrame(
        [(f"k{i}",) for i in range(500)], "k string"
    ).repartition(5)
    capacity = 4
    assert mg_candidates(distinct, "k", capacity).count() <= capacity * 5
    got = {
        r["k"]: r["cnt"]
        for r in frequent_items(distinct, "k", capacity).collect()
    }
    assert all(c == 1 for c in got.values())
    assert not {k for k, c in got.items() if c * (capacity + 1) > 500}

    empty = distinct.filter(F.lit(False))
    assert mg_candidates(empty, "k", capacity).count() == 0
    assert frequent_items(empty, "k", capacity).count() == 0


def _store_corpus(tmp_path, monkeypatch):
    """A one-file corpus and an empty store root, both private to the
    test, so store faults cannot leak into other tests' artifacts."""
    import os

    monkeypatch.setenv("PTAE_ARTIFACT_DIR", str(tmp_path / "store"))
    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    with open(os.path.join(corpus, "t.parquet"), "w") as fh:
        fh.write("generation-one")
    return corpus


def _generation_dirs(corpus, stem):
    import glob
    import os

    from prueba_tecnica_analista_etl_spark import artifacts

    tag_dir = os.path.join(
        artifacts.artifact_root(), artifacts._corpus_tag(corpus)
    )
    return sorted(glob.glob(os.path.join(tag_dir, f"{stem}-*")))


@pytest.mark.parametrize("shape", ["frame", "census", "dir"])
def test_store_builds_once_under_thread_race(
    spark, tmp_path, monkeypatch, shape
):
    """Eight threads racing one missing key: exactly one runs build(),
    and every thread is served the same artifact."""
    import os
    import sys
    import threading
    import time

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = _store_corpus(tmp_path, monkeypatch)
    builds = []

    def build(*args):
        builds.append(1)
        time.sleep(0.3)  # widen the window in which the others arrive
        if shape == "frame":
            return spark.range(3)
        if shape == "census":
            return {"bits": [1, 2, 3]}
        with open(os.path.join(args[0], "payload"), "w") as fh:
            fh.write("x")

    def lookup():
        if shape == "frame":
            df = artifacts.corpus_artifact(spark, corpus, "race", build)
            return df.count()
        if shape == "census":
            return artifacts.census_artifact(spark, corpus, "race", build)
        return artifacts.artifact_directory(corpus, "race", build)

    gate = threading.Barrier(8)
    results = [None] * 8

    def client(i):
        gate.wait()
        results[i] = lookup()

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert all(r == results[0] for r in results) and results[0] is not None


_RACE_BUILD = """
import os, sys, time
sys.path.insert(0, sys.argv[1])
from prueba_tecnica_analista_etl_spark import artifacts

corpus, log = sys.argv[2], sys.argv[3]

def build(d):
    with open(log, "a") as fh:
        fh.write(f"{os.getpid()}\\n")
    time.sleep(1)
    with open(os.path.join(d, "payload"), "w") as fh:
        fh.write("x")

print("READY", flush=True)
sys.stdin.readline()
print(artifacts.artifact_directory(corpus, "xrace", build), flush=True)
"""


def test_store_builds_once_under_process_race(tmp_path, monkeypatch):
    """Two processes racing one missing artifact: exactly one runs
    build(), and both are served the same directory. Each build logs
    its pid and sleeps, so a second build inside the window shows as a
    second log line."""
    import os
    import subprocess
    import sys

    corpus = _store_corpus(tmp_path, monkeypatch)
    script = tmp_path / "race_build.py"
    script.write_text(_RACE_BUILD)
    log = tmp_path / "builds.log"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), repo, corpus, str(log)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(2)
    ]
    try:
        for p in procs:
            assert p.stdout.readline().strip() == "READY"
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        served = [p.communicate(timeout=120)[0].strip() for p in procs]
    finally:
        for p in procs:
            p.kill()
    assert [p.returncode for p in procs] == [0, 0]
    assert len(log.read_text().splitlines()) == 1
    assert served[0] == served[1] and os.path.isdir(served[0])


def test_lock_modes(tmp_path):
    """A blocking exclusive lock creates its file and raises when the
    directory is gone, so ``with lock(...)`` never gets None. A shared
    lock or a non-blocking probe returns None for a missing file or a
    held lock; a second open in the same process conflicts."""
    import fcntl
    import os

    from prueba_tecnica_analista_etl_spark.artifacts import lock

    gone = str(tmp_path / "gone" / "x.lock")
    with pytest.raises(FileNotFoundError):
        lock(gone)
    assert lock(gone, fcntl.LOCK_SH) is None
    path = str(tmp_path / "x.lock")
    held = lock(path)
    assert os.path.exists(path)
    assert lock(path, fcntl.LOCK_SH | fcntl.LOCK_NB) is None
    assert lock(path, fcntl.LOCK_EX | fcntl.LOCK_NB) is None
    held.close()
    probe = lock(path, fcntl.LOCK_EX | fcntl.LOCK_NB)
    assert probe is not None
    probe.close()


_SERVED_READER = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from prueba_tecnica_analista_etl_spark import artifacts

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.driver.memory", "512m")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "1")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("OFF")
df = artifacts.corpus_artifact(
    spark, sys.argv[2], "xpin", lambda: spark.range(10)
)
print("SERVED", flush=True)
sys.stdin.readline()
print(sorted(r.id for r in df.collect()), flush=True)
"""


def test_store_keeps_generation_another_process_serves(
    spark, tmp_path, monkeypatch
):
    """A frame served in one process must stay readable when another
    process lands its successor: the reader is served the first
    generation, the corpus is rewritten, this process builds and lands
    the second generation, and only then does the reader scan its
    frame. Eviction must skip the generation the reader still
    serves."""
    import os
    import subprocess
    import sys

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = _store_corpus(tmp_path, monkeypatch)
    script = tmp_path / "served_reader.py"
    script.write_text(_SERVED_READER)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(tmp_path / "reader.err", "w") as err:
        reader = subprocess.Popen(
            [sys.executable, str(script), repo, corpus],
            cwd=str(tmp_path),
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=err,
            text=True,
        )
        try:
            assert reader.stdout.readline().strip() == "SERVED", (
                (tmp_path / "reader.err").read_text()[-3000:]
            )
            (old_dir,) = _generation_dirs(corpus, "xpin")
            with open(os.path.join(corpus, "t.parquet"), "w") as fh:
                fh.write("generation-two, a different size")
            new = artifacts.corpus_artifact(
                spark, corpus, "xpin", lambda: spark.range(20)
            )
            assert new.count() == 20
            assert os.path.isdir(old_dir), "a served generation must be kept"
            out, _ = reader.communicate("scan\n", timeout=300)
        finally:
            reader.kill()
    assert out.strip() == str(list(range(10))), (
        (tmp_path / "reader.err").read_text()[-3000:]
    )


def test_store_rebuilds_truncated_parquet_and_garbage_json(
    spark, tmp_path, monkeypatch
):
    """A persisted generation that no longer reads back (a truncated
    parquet part, a garbage value.json) must end in a rebuild serving
    the right value, not an error and not a stale value."""
    import glob
    import os

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = _store_corpus(tmp_path, monkeypatch)
    builds = []

    def build_frame():
        builds.append("f")
        return spark.createDataFrame(
            [(i, "v") for i in range(50)], "id long, s string"
        )

    def build_census():
        builds.append("c")
        return {"words": [3, 5, 7]}

    artifacts.corpus_artifact(spark, corpus, "bad_frame", build_frame)
    artifacts.census_artifact(spark, corpus, "bad_val", build_census)
    (frame_dir,) = _generation_dirs(corpus, "bad_frame")
    (value_dir,) = _generation_dirs(corpus, "census_bad_val")
    parts = glob.glob(os.path.join(frame_dir, "data", "part-*.parquet"))
    assert parts
    for p in parts:
        size = os.path.getsize(p)
        with open(p, "r+b") as fh:
            fh.truncate(size // 2)
    with open(os.path.join(value_dir, "value.json"), "w") as fh:
        fh.write("{not json")

    artifacts.clear_artifacts(spark)
    df = artifacts.corpus_artifact(spark, corpus, "bad_frame", build_frame)
    value = artifacts.census_artifact(spark, corpus, "bad_val", build_census)
    assert builds == ["f", "c", "f", "c"]
    assert sorted(r.id for r in df.collect()) == list(range(50))
    assert value == {"words": [3, 5, 7]}

    # the rebuilt generations are whole again: a fresh memo reads them
    artifacts.clear_artifacts(spark)
    df = artifacts.corpus_artifact(spark, corpus, "bad_frame", build_frame)
    assert df.count() == 50
    assert (
        artifacts.census_artifact(spark, corpus, "bad_val", build_census)
        == value
    )
    assert builds == ["f", "c", "f", "c"]


def test_store_rebuilds_generation_missing_a_part(
    spark, tmp_path, monkeypatch
):
    """A generation that lost one part file reads back as valid parquet
    with fewer rows; the footer row count check must catch it, so the
    artifact is rebuilt and serves every row, not a silent subset."""
    import glob
    import os

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = _store_corpus(tmp_path, monkeypatch)
    builds = []

    def build():
        builds.append("f")
        return spark.range(0, 1000, 1, 4)

    df = artifacts.corpus_artifact(spark, corpus, "lost", build)
    assert df.count() == 1000
    (frame_dir,) = _generation_dirs(corpus, "lost")
    parts = sorted(glob.glob(os.path.join(frame_dir, "data", "part-*")))
    assert len(parts) == 4
    os.unlink(parts[0])

    artifacts.clear_artifacts(spark)
    df = artifacts.corpus_artifact(spark, corpus, "lost", build)
    assert builds == ["f", "f"]
    assert df.count() == 1000
    assert sorted(r.id for r in df.collect()) == list(range(1000))


def test_store_keeps_superseded_frame_readable_while_served(
    spark, tmp_path, monkeypatch
):
    """A frame is a lazy scan of its generation, so the generation must
    outlive its superseding while the session that was served it still
    memoizes it: a new generation landing from another session leaves
    the old frame reading the old rows. Once no memo serves the old
    generation, the next landing removes it."""
    import os

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = _store_corpus(tmp_path, monkeypatch)
    builds = []

    def build():
        builds.append("f")
        return spark.range(10 * len(builds))

    old = artifacts.corpus_artifact(spark, corpus, "pin", build)
    assert old.count() == 10
    (old_dir,) = _generation_dirs(corpus, "pin")

    other = spark.newSession()
    with open(os.path.join(corpus, "t.parquet"), "w") as fh:
        fh.write("generation-two, a different size")
    assert artifacts.corpus_artifact(other, corpus, "pin", build).count() == 20
    assert os.path.isdir(old_dir), "a served generation must be kept"
    assert sorted(r.id for r in old.collect()) == list(range(10))

    # the first session moves on; the next landing evicts the first
    # generation, which no memo serves any more, and keeps the second,
    # which the first session served until this lookup
    assert artifacts.corpus_artifact(spark, corpus, "pin", build).count() == 20
    (mid_dir,) = set(_generation_dirs(corpus, "pin")) - {old_dir}
    with open(os.path.join(corpus, "t.parquet"), "w") as fh:
        fh.write("generation-three, yet another size")
    assert artifacts.corpus_artifact(spark, corpus, "pin", build).count() == 30
    assert builds == ["f", "f", "f"]
    assert not os.path.exists(old_dir)
    assert len(_generation_dirs(corpus, "pin")) == 2
    assert os.path.isdir(mid_dir)


def test_store_memo_does_not_keep_sessions_alive(
    spark, tmp_path, monkeypatch
):
    """A served frame refers back to its session, so the session memo
    must not be a strong reference held outside the session: a session
    that read the store and is dropped is collected, its pins on the
    store are closed rather than left to the collector, and a bare
    clear_artifacts() still reaches the memos of live sessions."""
    import gc
    import warnings
    import weakref

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = _store_corpus(tmp_path, monkeypatch)
    builds = []

    def build():
        builds.append("f")
        return spark.range(5)

    s = spark.newSession()
    assert artifacts.corpus_artifact(s, corpus, "leak", build).count() == 5
    assert artifacts.census_artifact(s, corpus, "leak", lambda: 7) == 7
    gone = weakref.ref(s)
    del s
    # PySpark's RDD.toDF closure holds the newest session; a newer one
    # releases it
    live = spark.newSession()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always", ResourceWarning)
        gc.collect()
    assert gone() is None, "a dropped session must be collected"
    unclosed = [w for w in caught if "_meta.json" in str(w.message)]
    assert not unclosed, [str(w.message) for w in unclosed]

    artifacts.corpus_artifact(live, corpus, "leak", build)
    artifacts.clear_artifacts()
    artifacts.corpus_artifact(live, corpus, "leak", build)
    assert builds == ["f", "f"], "a bare clear must drop every memo"


_EXECUTOR_LOSS = """
import os, sys, time
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from prueba_tecnica_analista_etl_spark import artifacts

corpus = sys.argv[2]
spark = (
    SparkSession.builder.master("local-cluster[2,1,1024]")
    .config("spark.executor.memory", "512m")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("OFF")
df = artifacts.corpus_artifact(
    spark, corpus, "exec_loss", lambda: spark.range(0, 1000, 1, 4)
)

def agg():
    return df.groupBy((df.id % 7).alias("k")).count().orderBy("k").collect()

before = agg()
sc = spark.sparkContext._jsc.sc()
sc.killExecutor(sc.getExecutorIds().mkString(",").split(",")[0])
time.sleep(3)
assert agg() == before
print("SURVIVED")
"""


def test_served_artifact_survives_executor_loss(tmp_path, monkeypatch):
    """A served artifact must stay readable when an executor is lost:
    read it under a two-executor local cluster, kill one executor and
    re-run the aggregate. A frame served from executor-local blocks
    fails here with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; a parquet scan
    re-reads the lost share. Runs in its own process, because a
    process holds one SparkContext."""
    import os
    import subprocess
    import sys

    corpus = _store_corpus(tmp_path, monkeypatch)
    script = tmp_path / "executor_loss.py"
    script.write_text(_EXECUTOR_LOSS)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, str(script), repo, corpus],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "SURVIVED" in proc.stdout, proc.stderr[-3000:]


def test_store_removes_orphaned_tmp_when_generation_lands(
    tmp_path, monkeypatch
):
    """A writer that crashed mid-build leaves its staging dir behind;
    it is removed when that generation lands."""
    import os
    import shutil

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = _store_corpus(tmp_path, monkeypatch)

    def build(d):
        with open(os.path.join(d, "payload"), "w") as fh:
            fh.write("x")

    final = artifacts.artifact_directory(corpus, "orphan", build)
    shutil.rmtree(final)

    def crash(d):
        build(d)
        raise KeyboardInterrupt

    # a killed process runs no cleanup: keep the staging dir on disk
    real_rmtree = shutil.rmtree
    monkeypatch.setattr(shutil, "rmtree", lambda *a, **k: None)
    with pytest.raises(KeyboardInterrupt):
        artifacts.artifact_directory(corpus, "orphan", crash)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    parent = os.path.dirname(final)
    assert any(n.startswith(".") for n in os.listdir(parent)), (
        "the crashed writer's staging dir must be on disk"
    )
    assert artifacts.artifact_directory(corpus, "orphan", build) == final
    assert os.path.isfile(os.path.join(final, "payload"))
    assert [n for n in os.listdir(parent) if n.startswith(".")] == []


def test_engine_source_change_rebuilds_and_evicts(
    spark, tmp_path, monkeypatch
):
    """Artifacts built by other engine code are never served: a changed
    source digest misses every shape, and the old generations are
    removed when their successors land."""
    import os

    from prueba_tecnica_analista_etl_spark import artifacts

    corpus = _store_corpus(tmp_path, monkeypatch)
    builds = []

    def build_census():
        builds.append("c")
        return len(builds)

    def build_dir(d):
        builds.append("d")

    assert artifacts.census_artifact(spark, corpus, "code", build_census) == 1
    old_dir = artifacts.artifact_directory(corpus, "code", build_dir)
    (old_census,) = _generation_dirs(corpus, "census_code")
    assert artifacts.census_artifact(spark, corpus, "code", build_census) == 1
    assert builds == ["c", "d"]

    monkeypatch.setattr(artifacts, "_SOURCE_DIGEST", "0" * 40)
    assert artifacts.census_artifact(spark, corpus, "code", build_census) == 3
    new_dir = artifacts.artifact_directory(corpus, "code", build_dir)
    assert builds == ["c", "d", "c", "d"]
    assert new_dir != old_dir and os.path.isdir(new_dir)
    assert not os.path.exists(old_dir)
    (new_census,) = _generation_dirs(corpus, "census_code")
    assert new_census != old_census and not os.path.exists(old_census)


def test_source_digest_tracks_py_content_only(tmp_path):
    """The engine digest changes with one byte of any ``*.py`` file and
    ignores everything else in the package tree."""
    import os
    import shutil

    from prueba_tecnica_analista_etl_spark import artifacts

    pkg = str(tmp_path / "pkg")
    shutil.copytree(
        os.path.dirname(artifacts.__file__),
        pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    base = artifacts._source_digest(pkg)
    assert base == artifacts._SOURCE_DIGEST

    with open(os.path.join(pkg, "notes.txt"), "w") as fh:
        fh.write("not code")
    os.makedirs(os.path.join(pkg, "__pycache__"))
    with open(os.path.join(pkg, "__pycache__", "x.pyc"), "wb") as fh:
        fh.write(b"bytecode")
    assert artifacts._source_digest(pkg) == base

    target = os.path.join(pkg, "session.py")
    data = bytearray(open(target, "rb").read())
    data[0] ^= 1
    with open(target, "wb") as fh:
        fh.write(data)
    assert artifacts._source_digest(pkg) != base
