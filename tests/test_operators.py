"""Operator-level property tests mirroring the reference's own
invariants (SURVEY.md §5): upsert idempotency + audit counts, dedup
determinism, reject-routing completeness, UDF-parity of the native
classifiers."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.functions.validate import (
    phone_status,
)
from prueba_tecnica_analista_etl_spark.operators.dedupe import (
    keep_first,
)
from prueba_tecnica_analista_etl_spark.operators.quality import (
    split_rejects,
)
from prueba_tecnica_analista_etl_spark.operators.upsert import (
    upsert,
    upsert_with_metrics,
)
from prueba_tecnica_analista_etl_spark.plans import REGISTRY
from prueba_tecnica_analista_etl_spark.sources.tables import load_table


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_upsert_semantics_and_metrics(spark):
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(2, "B"), (4, "D")], "k long, v string"
    )
    result, metrics = upsert_with_metrics(base, new, ["k"])
    assert _rows(result, "k", "v") == [
        (1, "a"), (2, "B"), (3, "c"), (4, "D")
    ]
    assert metrics == {
        "base_rows": 3,
        "new_rows": 2,
        "updates": 1,
        "inserts": 1,
        "result_rows": 4,
    }


def test_upsert_idempotent_fixpoint(spark, sf_dir):
    """Reference claim sql:130: re-running the merge changes nothing."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderdate") < "1995-01-01")
    new = orders.filter(F.col("o_orderdate") >= "1994-07-01")
    once = upsert(base, new, ["o_orderkey"])
    twice = upsert(once, new, ["o_orderkey"])
    assert once.count() == twice.count()
    assert twice.exceptAll(once).count() == 0


def test_upsert_dedups_incoming_batch(spark):
    base = spark.createDataFrame([(1, "a")], "k long, v string")
    new = spark.createDataFrame(
        [(1, "x", 2), (1, "y", 1), (2, "z", 1)], "k long, v string, pri long"
    )
    out = upsert(base, new, ["k"], dedup_order=[F.asc("pri")])
    assert _rows(out, "k", "v") == [(1, "y"), (2, "z")]


def test_split_rejects_partitions_completely(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    accepted, rejected = split_rejects(
        ev,
        {
            "low_value": F.col("value") < 1.0,
            "error_event": F.col("event_type") == "error",
        },
    )
    assert accepted.count() + rejected.count() == ev.count()
    assert rejected.filter(F.col("reject_reason").isNull()).count() == 0
    # first-matching-rule precedence
    both = rejected.filter(
        (F.col("value") < 1.0) & (F.col("event_type") == "error")
    )
    assert (
        both.filter(F.col("reject_reason") != "low_value").count() == 0
    )


def test_phone_udf_parity(spark):
    """The native when-chain reproduces ``validar_telefono``'s labels:
    10 digits starting '3' → Celular, starting '601' → Fijo, anything
    else (short, 11 digits, non-digit, NULL) → No Apto."""
    expected = [
        ("3108152764", "Celular"),
        ("6015551234", "Fijo"),
        ("0", "No Apto"),
        ("12345", "No Apto"),
        ("601abc1234", "No Apto"),
        ("30000000000", "No Apto"),
        ("3999999999", "Celular"),
        (None, "No Apto"),
        ("6010000000", "Fijo"),
    ]
    df = spark.createDataFrame(
        [(i, v) for i, (v, _) in enumerate(expected)], "i int, phone string"
    )
    got = [
        r["status"]
        for r in df.select(
            "i", phone_status(F.col("phone")).alias("status")
        )
        .orderBy("i")
        .collect()
    ]
    assert got == [label for _, label in expected]


def test_registry_docs_and_coverage():
    # every declared query says in one line what it computes (the
    # CLI's `list` prints it whole)
    for name, spec in REGISTRY.items():
        assert spec.doc, f"{name} missing doc"
        assert "\n" not in spec.doc and len(spec.doc) <= 100, name
    assert len(REGISTRY) >= 35
    assert sum(1 for s in REGISTRY.values() if s.oracle) >= 30


def test_keep_first_survives_file_splits(spark, tmp_path):
    """'Earlier row in file wins' must hold even when Spark splits the
    CSV into many partitions and schedules them in size order — the
    (file, block offset, row-in-split) ordering key restores true
    byte order; a bare monotonically_increasing_id would not."""
    from prueba_tecnica_analista_etl_spark.operators.dedupe import (
        ROW_COL,
        SRC_COL,
        tag_source_order,
    )

    p = tmp_path / "big.csv"
    with open(p, "w") as f:
        f.write("k,v\n")
        for i in range(200_000):
            f.write(f"{i % 1000},{i}\n")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    try:
        df = spark.read.option("header", True).csv(str(p))
        assert df.rdd.getNumPartitions() > 4  # the split actually happened
        tagged = tag_source_order([df])
        out = keep_first(tagged, ["k"], [F.asc(SRC_COL), F.asc(ROW_COL)])
        got = {r["k"]: int(r["v"]) for r in out.collect()}
        # first occurrence of key k is row k (v == k)
        assert got == {str(k): k for k in range(1000)}
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_asof_join_semantics(spark):
    """Hand-built as-of cases: strict-before match, equal-timestamp
    match (<=), tie on time broken by max tiebreak, no-match -> NULL,
    and whole-row payload (no tearing across payload columns)."""
    from prueba_tecnica_analista_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, "u1", 100),
            (2, "u1", 205),   # matches r at 200 (strictly before)
            (3, "u1", 300),   # matches r at 300 (equal ts counts)
            (4, "u2", 50),    # u2 has no right rows -> NULL
        ],
        "event_id long, user string, t long",
    )
    right = spark.createDataFrame(
        [
            ("u1", 90, 10, "a"),
            ("u1", 200, 11, "b"),
            ("u1", 200, 12, "c"),  # tie at 200: max tiebreak (12) wins
            ("u1", 300, 13, "d"),
        ],
        "user string, t long, rid long, tag string",
    )
    got = {
        r["event_id"]: (r["asof_rid"], r["asof_tag"])
        for r in asof_join(
            left,
            right,
            keys=["user"],
            left_time="t",
            right_time="t",
            payload=["rid", "tag"],
            tiebreak="rid",
        ).collect()
    }
    assert got == {
        1: (10, "a"),
        2: (12, "c"),
        3: (13, "d"),
        4: (None, None),
    }


def test_asof_join_null_times_never_match(spark):
    """NULL-time rows stay out of the match: a right row with NULL
    right_time must never be carried into any left row (it would
    otherwise sort first under asc-nulls-first and leak into left rows
    that precede the first real right row), and a left row with NULL
    left_time keeps NULL payload."""
    from prueba_tecnica_analista_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u1", 50), (2, "u1", None), (3, "u1", 250)],
        "event_id long, user string, t long",
    )
    right = spark.createDataFrame(
        [("u1", None, 99, "leak"), ("u1", 200, 11, "b")],
        "user string, t long, rid long, tag string",
    )
    got = {
        r["event_id"]: (r["asof_rid"], r["asof_tag"])
        for r in asof_join(
            left,
            right,
            keys=["user"],
            left_time="t",
            right_time="t",
            payload=["rid", "tag"],
            tiebreak="rid",
        ).collect()
    }
    # event 1 precedes every real right row -> NULL (not the leak row);
    # event 2 has NULL left time -> NULL; event 3 matches the real row.
    assert got == {1: (None, None), 2: (None, None), 3: (11, "b")}


def test_asof_and_salt_collision_guards(spark):
    """Output-name collisions fail fast instead of corrupting caller
    columns: a left frame that already has `asof_rid`."""
    import pytest

    from prueba_tecnica_analista_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u1", 50, 7)], "event_id long, user string, t long, asof_rid long"
    )
    right = spark.createDataFrame(
        [("u1", 40, 11)], "user string, t long, rid long"
    )
    with pytest.raises(ValueError, match="collides"):
        asof_join(
            left, right, keys=["user"], left_time="t", right_time="t",
            payload=["rid"], tiebreak="rid",
        )


def test_asof_join_random_matches_bruteforce(spark):
    """200×200 seeded-random as-of join vs a driver-side brute force:
    the sort-based interleave must agree on every row, including key
    groups with many time ties."""
    import random

    from prueba_tecnica_analista_etl_spark.operators.asof import asof_join

    rng = random.Random(0)
    lefts = [
        (i, f"u{rng.randrange(5)}", rng.randrange(60)) for i in range(200)
    ]
    rights = [
        (f"u{rng.randrange(5)}", rng.randrange(60), 1000 + i)
        for i in range(200)
    ]
    want = {}
    for lid, lu, lt in lefts:
        best = None
        for ru, rt, rid in rights:
            if ru == lu and rt <= lt:
                cand = (rt, rid)
                if best is None or cand > best:
                    best = cand
        want[lid] = best[1] if best else None

    left = spark.createDataFrame(lefts, "lid long, user string, t long")
    right = spark.createDataFrame(rights, "user string, t long, rid long")
    got = {
        r["lid"]: r["asof_rid"]
        for r in asof_join(
            left,
            right,
            keys=["user"],
            left_time="t",
            right_time="t",
            payload=["rid"],
            tiebreak="rid",
        ).collect()
    }
    assert got == want


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    """Hash-threshold sampling: per-class keep rates land near their
    thresholds (26/256 for click, 13/256 for view, 52/256 default,
    100% for purchase) and the sample is bit-identical across runs —
    the reproducibility property rand()-based sampling lacks."""
    q = REGISTRY["q_stratified_sample"].fn
    a = sorted(tuple(r) for r in q(spark, sf_dir).collect())
    b = sorted(tuple(r) for r in q(spark, sf_dir).collect())
    assert a == b  # deterministic

    ev = load_table(spark, sf_dir, "events")
    totals = {
        r["event_type"]: r["count"]
        for r in ev.groupBy("event_type").count().collect()
    }
    kept: dict[str, int] = {}
    for _, etype in a:
        kept[etype] = kept.get(etype, 0) + 1
    assert kept["purchase"] == totals["purchase"]  # 'ff' keeps all
    for etype, want in [
        ("click", 26 / 256),
        ("view", 13 / 256),
        ("signup", 52 / 256),
        ("error", 52 / 256),
    ]:
        rate = kept.get(etype, 0) / totals[etype]
        assert abs(rate - want) < 0.06, (etype, rate, want)


def test_rollup_distinguishes_null_group_from_total(spark):
    """A genuine NULL group value must survive as its own row, not be
    relabeled into (and collide with) the grand-TOTAL row — the
    grouping() distinction."""
    from prueba_tecnica_analista_etl_spark.operators.pivot import (
        count_sum_rollup,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), (None, 10.0)], "g string, v double"
    )
    rows = {r["g"]: (r["cnt"], r["total"])
            for r in count_sum_rollup(df, "g", "v").collect()}
    assert rows["TOTAL"] == (3, 13.0)   # the one true grand total
    assert rows[None] == (1, 10.0)      # NULL group kept distinct
    assert rows["a"] == (2, 3.0)


def test_quality_helpers_empty_input(spark):
    """Zero-row audits report zeros/empty, not None/crash."""
    from prueba_tecnica_analista_etl_spark.operators.quality import (
        violations_census,
    )

    empty = spark.createDataFrame([], "x long")
    row = violations_census(empty, {"neg": F.col("x") < 0}).first()
    assert row["neg"] == 0


def test_keep_first_preserves_caller_row_id_column(spark):
    """Only the tagger's column PAIR is reserved: a caller's lone
    _row_id business column must survive keep_first."""
    from prueba_tecnica_analista_etl_spark.operators.dedupe import (
        keep_first,
    )

    df = spark.createDataFrame(
        [(1, 100, 5), (1, 200, 3)], "k long, _row_id long, v long"
    )
    out = keep_first(df, ["k"], [F.asc("v")])
    assert out.columns == ["k", "_row_id", "v"]
    assert out.first()["_row_id"] == 200


def test_read_jdbc_requires_bounds_with_partition_column(spark):
    import pytest

    from prueba_tecnica_analista_etl_spark.sources.jdbc import read_jdbc

    with pytest.raises(ValueError, match="lower_bound and"):
        read_jdbc(
            spark, "jdbc:postgresql://h/db", "t", partition_column="id"
        )


def test_compact_parquet_refuses_partitioned_root(spark, sf_dir, tmp_path):
    import pytest

    from prueba_tecnica_analista_etl_spark.sources.files import (
        compact_parquet,
    )
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    path = str(tmp_path / "t")
    (
        load_table(spark, sf_dir, "events")
        .limit(100)
        .withColumn("day", F.to_date("ts"))
        .write.partitionBy("day")
        .parquet(path)
    )
    with pytest.raises(ValueError, match="partitioned table root"):
        compact_parquet(spark, path)


# ---------------------------------------------------------------------------
# connected_components (operators/components.py)
# ---------------------------------------------------------------------------


def _cc(spark, pairs):
    from prueba_tecnica_analista_etl_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    return _rows(connected_components(edges), "node", "comp")


def test_cc_chain_is_one_component(spark):
    """A~B, B~C, C~D: one family labeled by its min id — the exact
    transitive case the pairwise purge docstring defers to CC."""
    assert _cc(spark, [(1, 2), (2, 3), (3, 4)]) == [
        (1, 1), (2, 1), (3, 1), (4, 1)
    ]


def test_cc_disjoint_components_and_cycle(spark):
    """Two separate families (one a triangle — cycles must not loop
    forever) keep separate min-id labels."""
    got = _cc(spark, [(10, 20), (20, 30), (10, 30), (7, 8)])
    assert got == [(7, 7), (8, 7), (10, 10), (20, 10), (30, 10)]


def test_cc_long_chain_converges(spark):
    """A 12-node path needs diameter-many rounds — exercises the
    fixpoint loop well past one propagation step."""
    n = 12
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert got == [(i, 0) for i in range(n + 1)]


def test_cc_raises_rather_than_mislabeling(spark, monkeypatch):
    """Hitting MAX_ROUNDS must raise, never return a half-propagated
    labeling (silent truncation would split one family into two)."""
    from prueba_tecnica_analista_etl_spark.operators import components

    monkeypatch.setattr(components, "MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, [(i, i + 1) for i in range(8)])


def test_cc_string_ids_converge_correctly(spark):
    """Non-numeric ids (md5 fingerprints are strings) must use the
    join-based convergence probe: the Σcomp decimal cast is NULL for
    strings, and a NULL==NULL early exit would silently split one
    chain into several families (the exact bug this pins)."""
    from prueba_tecnica_analista_etl_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "doc_a string, doc_b string",
    )
    got = _rows(connected_components(edges), "node", "comp")
    assert got == [(x, "a") for x in ["a", "b", "c", "d", "e"]]


def test_cc_pointer_jumping_covers_deep_chains(spark, monkeypatch):
    """A 41-node path has diameter 40: plain propagation needs ~40
    rounds, but pointer jumping (comp <- comp[comp], cut in from
    round JUMP_AFTER on) doubles resolved depth per round, so the
    chain converges well inside 12 rounds."""
    from prueba_tecnica_analista_etl_spark.operators import components

    monkeypatch.setattr(components, "MAX_ROUNDS", 12)
    n = 40
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert got == [(i, 0) for i in range(n + 1)]


def test_cc_string_ids_with_pointer_jumping(spark, monkeypatch):
    """The jump join must also work for non-numeric ids (the
    join-probe convergence branch): a 21-node STRING chain is deeper
    than plain propagation can cover in 10 rounds, so this pins
    the jump x string-id combination a numeric-only deep test would
    miss."""
    from prueba_tecnica_analista_etl_spark.operators import components
    from prueba_tecnica_analista_etl_spark.operators.components import (
        connected_components,
    )

    monkeypatch.setattr(components, "MAX_ROUNDS", 10)
    ids = [f"n{i:02d}" for i in range(21)]
    edges = spark.createDataFrame(
        list(zip(ids, ids[1:])), "doc_a string, doc_b string"
    )
    got = _rows(connected_components(edges), "node", "comp")
    assert got == [(x, "n00") for x in ids]


def test_approx_distinct_audit_within_rsd(spark, sf_dir):
    """HLL audit (the 100 TB twin of distinct_count_audit) lands
    within its declared relative error on every harness table key
    that matters for dedup audits, and total is exact."""
    from prueba_tecnica_analista_etl_spark.operators.dedupe import (
        approx_distinct_count_audit,
        distinct_count_audit,
    )

    for table, key in [
        ("orders", "o_custkey"),
        ("lineitem", "l_orderkey"),
        ("events", "user_id"),
    ]:
        df = load_table(spark, sf_dir, table)
        exact = distinct_count_audit(df, key).first()
        approx = approx_distinct_count_audit(df, key, rsd=0.02).first()
        assert approx["total"] == exact["total"]
        rel = abs(approx["uniq_approx"] - exact["uniq"]) / exact["uniq"]
        # 3x the rsd: HLL's rsd is a standard deviation, not a bound.
        assert rel <= 0.06, (table, key, exact["uniq"], approx["uniq_approx"])


def test_snapshot_diff_roundtrip_and_nulls(spark):
    """snapshot_diff emits exactly the I/U/D set, counts NULL moves as
    updates, matches NULL keys across sides (presence markers, not
    key-IS-NULL), and applying the delta to old reconstructs new."""
    from prueba_tecnica_analista_etl_spark.operators.upsert import (
        snapshot_diff,
        upsert,
    )

    cols = ["k", "v", "s"]
    old = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, "c"), (None, 1.0, "n")],
        cols,
    )
    new = spark.createDataFrame(
        [
            (1, 10.0, "a"),  # unchanged -> dropped
            (2, 20.0, "b"),  # NULL -> value = update
            (4, 40.0, "d"),  # insert
            (None, 1.0, "n"),  # NULL key matches NULL key: unchanged
        ],
        cols,
    )
    delta = snapshot_diff(old, new, ["k"])
    got = {(r["k"], r["change_type"]) for r in delta.collect()}
    assert got == {(2, "U"), (4, "I"), (3, "D")}
    # I/U rows carry the new-side payload; D rows carry NULLs.
    assert {
        (r["k"], r["v"], r["s"])
        for r in delta.filter("change_type != 'D'").collect()
    } == {(2, 20.0, "b"), (4, 40.0, "d")}
    assert delta.filter(
        "change_type = 'D' AND (v IS NOT NULL OR s IS NOT NULL)"
    ).count() == 0

    # Round-trip FROM THE DELTA ALONE: upsert the I/U rows, anti-join
    # away the D keys — the new snapshot is never consulted.
    iu_rows = delta.filter("change_type != 'D'").select(*cols)
    deleted = delta.filter("change_type = 'D'").select("k")
    base = upsert(old, iu_rows, ["k"])
    rebuilt = base.join(
        deleted.withColumnRenamed("k", "_dk"),
        base["k"].eqNullSafe(F.col("_dk")),
        "left_anti",
    )
    assert {
        (r["k"], r["v"], r["s"]) for r in rebuilt.collect()
    } == {(r["k"], r["v"], r["s"]) for r in new.collect()}


def test_sessionize_batch_conserves_events(spark, sf_dir):
    """Sessions PARTITION each user's events: per-user n_events sums
    to the user's event count, and durations are non-negative."""
    sess = REGISTRY["q_sessionize_batch"].fn(spark, sf_dir)
    per_user = sess.groupBy("user_id").agg(
        F.sum("n_events").alias("n")
    )
    ev = load_table(spark, sf_dir, "events")
    want = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    assert sorted(map(tuple, per_user.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert sess.filter(F.col("duration_us") < 0).count() == 0


def test_mixture_sample_weight_one_keeps_all(spark, sf_dir):
    """A weight-1.0 source is kept WHOLE (threshold 'g' sorts above
    every hex digit — no off-by-2^-32 edge), and every sampled doc
    belongs to the corpus."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_pipeline import (
        MIXTURE_WEIGHTS,
    )

    sample = REGISTRY["q_mixture_sample"].fn(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    full_sources = [s for s, w in MIXTURE_WEIGHTS.items() if w >= 1.0]
    assert full_sources  # the recipe exercises the keep-all arm
    for src in full_sources:
        assert (
            sample.filter(F.col("source") == src).count()
            == docs.filter(F.col("source") == src).count()
        )
    assert sample.join(docs, "doc_id", "left_anti").count() == 0


def test_cli_surface(spark, sf_dir, tmp_path, capsys):
    """CLI: list names every registry entry, oracle prints the SQL,
    run executes against an sf-dir (reusing an injected session), and
    explain prints a formatted plan."""
    from prueba_tecnica_analista_etl_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q_inner_join" in out and "[rows-only]" in out

    assert main(["oracle", "q_inner_join"]) == 0
    assert "SELECT" in capsys.readouterr().out.upper()

    assert (
        main(
            ["run", "q_group_sample", "--sf-dir", sf_dir, "--limit", "5"],
            spark=spark,
        )
        == 0
    )
    assert "doc_id" in capsys.readouterr().out

    assert (
        main(["explain", "q_mixture_sample", "--sf-dir", sf_dir], spark=spark)
        == 0
    )
    assert "Physical Plan" in capsys.readouterr().out.replace("=", "")

    dest = str(tmp_path / "cli_out.parquet")
    assert (
        main(
            ["run", "q_group_sample", "--sf-dir", sf_dir, "--out", dest],
            spark=spark,
        )
        == 0
    )
    assert spark.read.parquet(dest).count() > 0

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        # rows-only → explicit error; q_ann_ivf is PERMANENTLY
        # rows-only (its k-means assignment argmax rides unquantized
        # float comparisons — no engine-neutral form exists), unlike
        # the audits that keep getting upgraded out from under this
        # test (q_lsh_recall is oracle-backed now).
        main(["oracle", "q_ann_ivf"])
    with _pytest.raises(SystemExit):
        main(["run", "q_nonexistent"], spark=spark)
    with _pytest.raises(SystemExit):  # unknown --out extension → error
        main(
            ["run", "q_group_sample", "--sf-dir", sf_dir, "--out",
             str(tmp_path / "cli_out.xlsx")],
            spark=spark,
        )


def test_funnel_is_strictly_ordered(spark, tmp_path):
    """The funnel counts ORDERED chains only: a user whose purchase
    precedes their first view completes stage 1, not stage 3 — the
    semantic that separates a funnel from a bag-of-events check.
    (The sf fixtures are dense enough that every user completes all
    stages, so the ordering branch needs a crafted fixture.)
    NULL-user (anonymous) events are excluded by contract."""
    from pyspark.sql import Row
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, s, typ):
        return Row(
            event_id=(uid or 9) * 100 + s,
            ts=t0 + dt.timedelta(seconds=s),
            user_id=uid,
            event_type=typ,
            value=1.0,
            props="{}",
        )

    rows = [
        # u1: view -> click -> purchase, in order: completes all 3
        ev(1, 1, "view"), ev(1, 2, "click"), ev(1, 3, "purchase"),
        # u2: purchase BEFORE view, click after view: reaches stage 2
        ev(2, 1, "purchase"), ev(2, 2, "view"), ev(2, 3, "click"),
        # u3: click before view only: reaches stage 1
        ev(3, 1, "click"), ev(3, 2, "view"),
        # u4: no view at all: reaches nothing
        ev(4, 1, "purchase"),
        # anonymous events: a full ordered chain that must NOT count
        ev(None, 1, "view"), ev(None, 2, "click"),
        ev(None, 3, "purchase"),
    ]
    df = spark.createDataFrame(rows)
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = {
        r["stage"]: r["users"]
        for r in REGISTRY["q_funnel"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {"view": 3, "click": 2, "purchase": 1}


def test_ordered_funnel_parametrized_stages(spark):
    """The operator generalizes beyond the registry's 3-stage recipe:
    an arbitrary stage list works, and an empty one is rejected."""
    from prueba_tecnica_analista_etl_spark.operators.events import (
        ordered_funnel,
    )
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, "signup"), (1, t0 + dt.timedelta(seconds=1), "error"),
        (2, t0, "error"), (2, t0 + dt.timedelta(seconds=1), "signup"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["stage"]: r["users"]
        for r in ordered_funnel(df, ["signup", "error"]).collect()
    }
    assert got == {"signup": 2, "error": 1}  # u2's error precedes signup
    with pytest.raises(ValueError):
        ordered_funnel(df, [])


def test_split_leakage_census_counts_injected_leaks(spark):
    """Synthetic proof the census fires: content duplicated across the
    split boundary under DIFFERENT ids is counted per audited split;
    clean content is not; reference-internal dups don't count."""
    from prueba_tecnica_analista_etl_spark.operators.sampling import (
        split_leakage_census,
    )

    rows = [
        # leaked: same content in train and val (different ids)
        ("train", "alpha"), ("val", "alpha"),
        # leaked twice into test
        ("train", "beta"), ("test", "beta"), ("test", "beta"),
        # train-internal dup — not leakage
        ("train", "gamma"), ("train", "gamma"),
        # clean eval docs
        ("val", "delta"), ("test", "epsilon"),
        # val/test overlap WITHOUT train — not leakage from train
        ("val", "zeta"), ("test", "zeta"),
    ]
    df = spark.createDataFrame(rows, ["split", "text"])
    got = {
        r["split"]: (r["docs"], r["leaked"])
        for r in split_leakage_census(df, "text").collect()
    }
    assert got == {"val": (3, 1), "test": (4, 2)}


def test_split_leakage_query_finds_real_leaks_at_sf01(spark):
    """The sf0.1 documents table genuinely contains cross-split exact
    dups — the query must report nonzero leakage there (guards against
    a census that silently always answers zero)."""
    import os

    from prueba_tecnica_analista_etl_spark.plans.extensions_pipeline import (
        q_split_leakage,
    )

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):
        import pytest

        pytest.skip("sf0.1 testdata not present")
    rows = {r["split"]: r for r in q_split_leakage(spark, sf01).collect()}
    assert set(rows) == {"val", "test"}
    assert sum(r["leaked"] for r in rows.values()) > 0
    for r in rows.values():
        assert 0 <= r["leaked"] <= r["docs"]


def test_split_leakage_census_is_single_pass(spark, sf_dir):
    """The census must scan the corpus and shuffle fingerprints ONCE
    regardless of how many splits are audited — one global aggregate
    exploded into rows, never a per-split union of aggregates."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_pipeline import (
        q_split_leakage,
    )

    plan = (
        q_split_leakage(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Scan parquet") == 1


def test_group_safe_split_never_straddles_duplicate_groups(spark):
    """q_group_safe_split's defining invariant on an adversarial
    corpus: with many exact-duplicate families, every md5(text) class
    lands WHOLLY in one split (straddling impossible by construction),
    while the doc-keyed draw (q_train_val_split's rule) demonstrably
    straddles some family on the same data — the leak the group key
    exists to close. Also pins the census arithmetic: n_dup_docs
    counts exactly the docs in multi-copy groups."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_pipeline import (
        _hex_threshold,
    )

    # 40 families x 3 copies + 30 singletons, ids interleaved so
    # family members get unrelated md5(doc_id) draws.
    rows = []
    did = 0
    for fam in range(40):
        for _ in range(3):
            rows.append((did, f"family text {fam}"))
            did += 7  # non-contiguous ids
    for s in range(30):
        rows.append((did, f"unique text {s}"))
        did += 7
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.createOrReplaceTempView("_gss_docs")

    thr = _hex_threshold(0.8)
    per_doc = spark.sql(f"""
        SELECT doc_id, md5(text) AS fp,
               CASE WHEN substr(md5(CAST(doc_id AS STRING)), 1, 8)
                         < '{thr}'
                    THEN 'train' ELSE 'val' END AS doc_split,
               CASE WHEN substr(md5(CAST(
                          min(doc_id) OVER (PARTITION BY md5(text))
                        AS STRING)), 1, 8) < '{thr}'
                    THEN 'train' ELSE 'val' END AS group_split
        FROM _gss_docs
    """)
    agg = per_doc.groupBy("fp").agg(
        F.countDistinct("doc_split").alias("n_doc_splits"),
        F.countDistinct("group_split").alias("n_group_splits"),
        F.count(F.lit(1)).alias("k"),
    )
    straddled_by_doc_key = agg.filter(
        (F.col("k") >= 2) & (F.col("n_doc_splits") > 1)
    ).count()
    assert straddled_by_doc_key > 0, (
        "fixture must exhibit the doc-keyed leak (2p(1-p) per family "
        "over 40 families: P(none straddles) ~ 1e-8)"
    )
    assert agg.filter(F.col("n_group_splits") > 1).count() == 0

    # census arithmetic over the same corpus
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY

    spec = REGISTRY["q_group_safe_split"]
    import duckdb

    con = duckdb.connect()
    pdf = docs.toPandas()
    con.register("documents", pdf)
    got = con.execute(spec.oracle).fetchall()
    n_groups = sum(r[1] for r in got)
    n_docs = sum(r[2] for r in got)
    n_dup = sum(r[3] for r in got)
    assert n_groups == 70 and n_docs == 150 and n_dup == 120


def test_bucketed_upsert_chain(spark):
    """S17 wired to J4: chained MERGEs into a
    bucketed base shuffle ONLY the incoming delta. Run 2's executed
    plan carries exactly one Exchange (the delta side — the base scan
    is Bucketed and co-located), rows match the plain upsert chain,
    and the bucket layout survives every merge."""
    from prueba_tecnica_analista_etl_spark.operators.upsert import (
        bucketed_upsert,
    )
    from prueba_tecnica_analista_etl_spark.sources.bucketed import (
        bucket_spec,
        write_bucketed,
    )

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k int, v string"
    )
    b1 = spark.createDataFrame(
        [(i, f"b1_{i}") for i in range(90, 110)], "k int, v string"
    )
    b2 = spark.createDataFrame(
        [(i, f"b2_{i}") for i in range(105, 120)], "k int, v string"
    )
    write_bucketed(base, "b_up_base", "k", 4)
    try:
        bucketed_upsert(spark, "b_up_base", b1, ["k"])
        assert bucket_spec(spark, "b_up_base") == (4, ["k"])

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            run2 = upsert(spark.table("b_up_base"), b2, ["k"])
            plan = run2._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan  # base scan is co-located
            assert "SortMergeJoin" in plan
            # exactly ONE Exchange: the delta side. A second one means
            # the 100 TB base re-shuffled — the regression this pins.
            assert plan.count("Exchange") == 1, plan
            bucketed_upsert(spark, "b_up_base", b2, ["k"])
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

        got = _rows(spark.table("b_up_base"), "k", "v")
        want = _rows(upsert(upsert(base, b1, ["k"]), b2, ["k"]), "k", "v")
        assert got == want
        assert bucket_spec(spark, "b_up_base") == (4, ["k"])

        # merging on a non-bucket key must fail LOUDLY, not silently
        # re-shuffle the base every merge
        with pytest.raises(ValueError, match="bucketed on"):
            bucketed_upsert(spark, "b_up_base", b2, ["v"])
    finally:
        spark.sql("DROP TABLE IF EXISTS b_up_base")
        spark.sql("DROP TABLE IF EXISTS b_up_base__upsert_staged")
        spark.sql("DROP TABLE IF EXISTS b_up_base__upsert_old")


def test_bucketed_upsert_crash_recovery(spark):
    """The rename-aside swap is crash-safe at
    EVERY interruption point. For each of the three windows (after
    the staged write, between the two renames, before the final
    DROP) this replays exactly the statements bucketed_upsert issues
    up to that point, then recovers — via recover_upsert_swap AND via
    simply re-running the merge — and asserts a readable,
    layout-correct base with the expected rows at every step."""
    from prueba_tecnica_analista_etl_spark.operators.upsert import (
        bucketed_upsert,
        recover_upsert_swap,
        upsert,
    )
    from prueba_tecnica_analista_etl_spark.sources.bucketed import (
        bucket_spec,
        write_bucketed,
    )

    t, staged, old = "b_cr_base", "b_cr_base__upsert_staged", (
        "b_cr_base__upsert_old"
    )
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k int, v string"
    )
    delta = spark.createDataFrame(
        [(i, f"d{i}") for i in range(40, 60)], "k int, v string"
    )
    base_rows = _rows(base, "k", "v")
    merged_rows = _rows(upsert(base, delta, ["k"]), "k", "v")

    def crash_at(point: int) -> None:
        """Replay the swap's statement sequence, dying after
        ``point`` steps (0 = staged written, 1 = base renamed aside,
        2 = staged promoted — final DROP never runs)."""
        for q in (f"DROP TABLE IF EXISTS {t}",
                  f"DROP TABLE IF EXISTS {staged}",
                  f"DROP TABLE IF EXISTS {old}"):
            spark.sql(q)
        write_bucketed(base, t, "k", 4)
        result = upsert(spark.table(t), delta, ["k"])
        write_bucketed(result, staged, "k", 4)
        if point >= 1:
            spark.sql(f"ALTER TABLE {t} RENAME TO {old}")
        if point >= 2:
            spark.sql(f"ALTER TABLE {staged} RENAME TO {t}")

    try:
        # Window 0: staged duplicate exists, base untouched → roll
        # back (the merge is re-runnable; the base is authoritative).
        crash_at(0)
        assert recover_upsert_swap(spark, t) == "rolled_back"
        assert bucket_spec(spark, t) == (4, ["k"])
        assert _rows(spark.table(t), "k", "v") == base_rows

        # Window 1: base aside + complete staged result → roll
        # FORWARD. The old DROP+RENAME ordering lost the catalog
        # entry here; rename-aside keeps both copies alive.
        crash_at(1)
        assert recover_upsert_swap(spark, t) == "completed"
        assert bucket_spec(spark, t) == (4, ["k"])
        assert _rows(spark.table(t), "k", "v") == merged_rows

        # Window 2: swap done, old-aside copy lingers → drop it.
        crash_at(2)
        assert recover_upsert_swap(spark, t) == "completed"
        assert bucket_spec(spark, t) == (4, ["k"])
        assert _rows(spark.table(t), "k", "v") == merged_rows

        # Re-running the merge IS the recovery procedure (sql:126-131
        # idempotency): bucketed_upsert self-recovers on entry at the
        # worst window and converges to the merged state.
        crash_at(1)
        bucketed_upsert(spark, t, delta, ["k"])
        assert bucket_spec(spark, t) == (4, ["k"])
        assert _rows(spark.table(t), "k", "v") == merged_rows
        for side in (staged, old):
            assert not spark.catalog.tableExists(side)

        # Nothing to recover → loud, not a silent no-op.
        spark.sql(f"DROP TABLE {t}")
        with pytest.raises(ValueError, match="nothing"):
            recover_upsert_swap(spark, t)
    finally:
        for q in (t, staged, old):
            spark.sql(f"DROP TABLE IF EXISTS {q}")


def test_bucketed_upsert_external_base_rejected(spark, tmp_path):
    """An EXTERNAL bucketed base must be rejected loudly: the staged
    swap writes MANAGED, so proceeding would silently re-home the
    table into the warehouse and strand the files at its explicit
    path."""
    from prueba_tecnica_analista_etl_spark.operators.upsert import (
        bucketed_upsert,
    )
    from prueba_tecnica_analista_etl_spark.sources.bucketed import (
        write_bucketed,
    )

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k int, v string"
    )
    delta = spark.createDataFrame([(1, "d1")], "k int, v string")
    try:
        write_bucketed(
            base, "b_ext_base", "k", 4,
            path=str(tmp_path / "ext_base"),
        )
        with pytest.raises(ValueError, match="EXTERNAL"):
            bucketed_upsert(spark, "b_ext_base", delta, ["k"])
        # the reject left the base untouched and readable
        assert spark.table("b_ext_base").count() == 20
    finally:
        spark.sql("DROP TABLE IF EXISTS b_ext_base")


def test_cli_index_lifecycle(spark, sf_dir, tmp_path, capsys):
    """The `index` CLI drives the whole on-disk IVF lifecycle: build
    emits the model size, search prints a top-k table, append reports
    its census, drift reports the census JSON, rebalance re-fits —
    all against a session injected by the caller."""
    import json

    from prueba_tecnica_analista_etl_spark.__main__ import main

    path = str(tmp_path / "cli_ivf")
    base = ["--path", path, "--sf-dir", sf_dir]
    assert main(["index", "build", *base, "--k", "8"], spark=spark) == 0
    assert json.loads(capsys.readouterr().out)["k"] == 8

    assert (
        main(
            ["index", "search", *base, "--vec-id", "7", "--nprobe", "8"],
            spark=spark,
        )
        == 0
    )
    assert "cos_sim" in capsys.readouterr().out

    assert main(["index", "append", *base], spark=spark) == 0
    appended = json.loads(capsys.readouterr().out)
    assert appended["appended"] > 0

    assert main(["index", "drift", *base], spark=spark) == 0
    drift = json.loads(capsys.readouterr().out)
    assert "refit_recommended" in drift

    assert (
        main(["index", "rebalance", *base, "--k", "8"], spark=spark) == 0
    )
    assert json.loads(capsys.readouterr().out)["k"] == 8

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(
            ["index", "search", *base, "--vec-id", "999999"],
            spark=spark,
        )
