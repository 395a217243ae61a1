"""Hypothesis property tests for the engine's core invariants
(SURVEY.md §5.3), over generated key/value tables:

- upsert: idempotent fixpoint; result keys = base ∪ new keys; every
  incoming key carries the incoming value.
- keep-first dedup: survivor set = distinct keys; survivors are drawn
  from the input; deduping twice = deduping once.
- reject routing: accept ⊎ reject is a partition of the input.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.operators.dedupe import keep_first
from prueba_tecnica_analista_etl_spark.operators.quality import (
    split_rejects,
)
from prueba_tecnica_analista_etl_spark.operators.upsert import upsert

KV = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=0,
    max_size=30,
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)],
        "k long, v long, pos long",
    )


@given(base=KV, new=KV)
@SLOW
def test_upsert_invariants(spark, base, new):
    base_df = keep_first(_df(spark, base), ["k"], [F.asc("pos")]).drop("pos")
    new_df = _df(spark, new)
    new_first = keep_first(new_df, ["k"], [F.asc("pos")]).drop("pos")
    out = upsert(base_df, new_first, ["k"])

    got = {r["k"]: r["v"] for r in out.collect()}
    base_map = {r["k"]: r["v"] for r in base_df.collect()}
    expected = dict(base_map)
    first_per_key: dict[int, int] = {}
    for k, v in new:
        first_per_key.setdefault(k, v)
    expected.update(first_per_key)
    assert got == expected

    # idempotent fixpoint
    again = upsert(out, new_first, ["k"])
    assert {r["k"]: r["v"] for r in again.collect()} == got


@given(rows=KV)
@SLOW
def test_keep_first_invariants(spark, rows):
    df = _df(spark, rows)
    out = keep_first(df, ["k"], [F.asc("pos")])
    got = {r["k"]: (r["v"], r["pos"]) for r in out.collect()}
    expected: dict[int, tuple[int, int]] = {}
    for i, (k, v) in enumerate(rows):
        expected.setdefault(k, (v, i))
    assert got == expected
    # dedup is idempotent
    out2 = keep_first(out, ["k"], [F.asc("pos")])
    assert sorted(map(tuple, out2.collect())) == sorted(
        map(tuple, out.collect())
    )


@given(rows=KV)
@SLOW
def test_split_rejects_partition(spark, rows):
    df = _df(spark, rows)
    acc, rej = split_rejects(
        df, {"neg": F.col("v") < 0, "big_key": F.col("k") > 15}
    )
    assert acc.count() + rej.count() == df.count()
    back = acc.unionByName(rej.drop("reject_reason"))
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


LEFTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),   # key
        st.integers(min_value=0, max_value=30),  # time
    ),
    min_size=0,
    max_size=15,
)
RIGHTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),
        st.integers(min_value=0, max_value=30),
    ),
    min_size=0,
    max_size=15,
)


@given(lefts=LEFTS, rights=RIGHTS)
@SLOW
def test_asof_join_matches_bruteforce(spark, lefts, rights):
    """Property: the sort-based as-of equals the brute-force definition
    'latest right at-or-before, ties by max rid' on arbitrary inputs —
    including empty sides, all-tied timestamps, single-key pileups."""
    from prueba_tecnica_analista_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        "lid long, k long, t long",
    )
    right = spark.createDataFrame(
        [(k, t, 100 + i) for i, (k, t) in enumerate(rights)],
        "k long, t long, rid long",
    )
    got = {
        r["lid"]: r["asof_rid"]
        for r in asof_join(
            left, right, ["k"], "t", "t", ["rid"], "rid"
        ).collect()
    }
    want = {}
    for i, (lk, lt) in enumerate(lefts):
        best = None
        for j, (rk, rt) in enumerate(rights):
            if rk == lk and rt <= lt:
                cand = (rt, 100 + j)
                if best is None or cand > best:
                    best = cand
        want[i] = best[1] if best else None
    assert got == want


def test_zscore_moments_equals_window_form(spark, sf_dir):
    """The moments (groupBy + broadcast-join) z-score plan must produce
    the frame the window form does — same census, radically different
    shuffle shape (partial-agged moments vs full row shuffle per
    event_type). This is the equivalence that licenses swapping in the
    moments plan on a skewed 100 TB table.

    Boundary awareness: the two plans accumulate mu/sigma in different
    orders (window partition scan vs groupBy partial merge), so a value
    whose |z| sits within float noise of the 3.0 cut could flip between
    forms on regenerated testdata. The outlier counts may therefore
    differ by at most the number of such boundary-riding values (today:
    zero, so the comparison stays exact in practice)."""
    from __spark_entry__ import queries
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    q = queries()
    win = {
        r["event_type"]: r.asDict()
        for r in q["q_zscore_outliers"](spark, sf_dir).collect()
    }
    mom = {
        r["event_type"]: r.asDict()
        for r in q["q_zscore_moments"](spark, sf_dir).collect()
    }
    assert set(win) == set(mom) and len(win) > 0

    # per-type count of values riding the |z|=3 boundary within eps
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    boundary = {
        r["event_type"]: r["n"]
        for r in ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(F.abs(z) - 3) < 1e-9)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for et in win:
        w, m = win[et], mom[et]
        assert w["n_events"] == m["n_events"], et
        # mu/sigma are round-2 floats of two different accumulation
        # orders: a true value riding a .005 boundary may legally
        # round apart by one grid step (same fragility class as the
        # outlier cut below) — so compare at the grid, not exactly.
        assert abs(w["mu"] - m["mu"]) <= 0.01 + 1e-12, et
        assert abs(w["sigma"] - m["sigma"]) <= 0.01 + 1e-12, et
        assert abs(w["outliers"] - m["outliers"]) <= boundary.get(et, 0), et


def test_pack_summary_consistent_with_pack_sequences(spark, sf_dir):
    """q_pack_summary's corpus totals must be derivable from
    q_pack_sequences' per-bin census: same doc/token/source totals, and
    the straddler count is bracketed by the bin census — every
    over-full bin's (start-assigned) last doc necessarily crosses the
    boundary, and a straddler is always the last doc starting in its
    bin, so #overfull-bins <= straddlers <= #bins. (Equality with
    overfull bins does NOT hold: a straddler's spill shifts the next
    bin's first start deep into that bin, so an under-full start-sum
    can still end in a straddle.)"""
    from __spark_entry__ import queries

    q = queries()
    bins = q["q_pack_sequences"](spark, sf_dir).collect()
    s = q["q_pack_summary"](spark, sf_dir).collect()[0]
    assert s["docs"] == sum(r["docs"] for r in bins)
    assert s["tokens"] == sum(r["tokens"] for r in bins)
    assert s["sources"] == len({r["source"] for r in bins})
    overfull = sum(1 for r in bins if r["fill_pct"] > 100)
    assert overfull <= s["straddlers"] <= len(bins)
    assert 0 < s["mean_fill_pct"] <= 100
    assert s["wasted_tokens"] >= 0


def test_perplexity_buckets_consistent_with_unigram_census(spark, sf_dir):
    """The bucket census must tile each source's docs exactly: per
    source the three buckets' doc counts sum to the source's census
    total and differ pairwise by at most one (the ntile guarantee),
    and the score RANGES are ordered and non-overlapping —
    head.lo >= middle.hi and middle.lo >= tail.hi (head holds the
    highest log-probabilities), with the global min/max of the
    unigram census bounding the tail/head extremes."""
    from __spark_entry__ import queries

    q = queries()
    census = {
        r["source"]: r.asDict()
        for r in q["q_unigram_logprob"](spark, sf_dir).collect()
    }
    buckets: dict = {}
    for r in q["q_perplexity_buckets"](spark, sf_dir).collect():
        buckets.setdefault(r["source"], {})[r["bucket"]] = r.asDict()
    assert set(buckets) == set(census)
    for src, bk in buckets.items():
        assert set(bk) == {"head", "middle", "tail"}, src
        counts = [bk[b]["docs"] for b in ("head", "middle", "tail")]
        assert sum(counts) == census[src]["docs"], src
        assert max(counts) - min(counts) <= 1, src
        for b in bk.values():
            assert b["lo_logprob"] <= b["hi_logprob"], src
        assert bk["head"]["lo_logprob"] >= bk["middle"]["hi_logprob"], src
        assert bk["middle"]["lo_logprob"] >= bk["tail"]["hi_logprob"], src
        # bucket extremes are DECIMAL(18,4) floor-quantized integer
        # scores, census extremes are round-4 floats of the float
        # mean: floor-vs-round contributes up to 1e-4 and the 1e-6
        # per-term grid up to ~1e-5 more, so compare at 2e-4 (float()
        # first — Python refuses Decimal-float arithmetic).
        assert (
            abs(
                float(bk["tail"]["lo_logprob"])
                - census[src]["min_logprob"]
            )
            <= 2e-4
        ), src
        assert (
            abs(
                float(bk["head"]["hi_logprob"])
                - census[src]["max_logprob"]
            )
            <= 2e-4
        ), src


def test_source_overlap_bounds(spark, sf_dir):
    """Overlap census sanity: pairs are canonical (src_a < src_b,
    each pair once), shared is positive and bounded by the smaller
    side's distinct-shingle size, and the per-source sizes agree with
    an independently computed distinct-shingle count."""
    from prueba_tecnica_analista_etl_spark.functions.text import shingles
    from __spark_entry__ import queries
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    rows = queries()["q_source_overlap"](spark, sf_dir).collect()
    assert rows, "corpus has cross-source shingle overlap by design"
    seen = set()
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert (r["src_a"], r["src_b"]) not in seen
        seen.add((r["src_a"], r["src_b"]))
        assert 0 < r["shared"] <= min(r["n_a"], r["n_b"])

    d = load_table(spark, sf_dir, "documents")
    sizes = {
        r["source"]: r["n"]
        for r in d.select(
            "source",
            F.explode(
                shingles(F.split(F.lower(F.col("text")), " "), 8)
            ).alias("g"),
        )
        .groupBy("source")
        .agg(F.countDistinct("g").alias("n"))
        .collect()
    }
    for r in rows:
        assert r["n_a"] == sizes[r["src_a"]], r["src_a"]
        assert r["n_b"] == sizes[r["src_b"]], r["src_b"]


def test_values_invariant_to_reducer_count(spark, sf_dir):
    """Shuffle-partition-count invariance: a 1000-executor cluster
    runs these plans with thousands of reducers, local tests with 32 —
    result VALUES must not depend on the count. Exercised on the
    queries whose semantics most plausibly could: keep-first ordering
    (survivor picked per shuffle partition), LSH bucketing + inline
    pair expansion, the per-shard packing running sum, exact ntile
    cuts, and the CC fixpoint (round structure interacts with
    partitioning). A sibling session (shared SparkContext, own conf)
    re-runs each with 3 reducers against the default-32 results."""
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY

    alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "3")
    for name in [
        "q_dedup_keep_first",
        "q_dup_clusters",
        "q_perplexity_buckets",
        "q_pack_sequences",
        "q_minhash_dedup",
        "q_window_rownum",
        "q_bm25",
        "q_token_histogram",
        "q_quantile_census",
        "q_hypertable_quantiles",
        "q_source_priority_dedup",
        "q_window_rank_metrics",
        # queries whose census collect (bucket histogram) or
        # bounded range expansion interacts with partitioning:
        "q_global_rank",
        "q_train_order",
        "q_rolling_distinct",
    ]:
        base = sorted(
            map(tuple, REGISTRY[name].fn(spark, sf_dir).collect())
        )
        got = sorted(
            map(tuple, REGISTRY[name].fn(alt, sf_dir).collect())
        )
        assert got == base, f"{name} changed values under 3 reducers"


@given(old=KV, new=KV)
@SLOW
def test_snapshot_diff_delta_reconstructs_new(spark, old, new):
    """CDC delta invariants over generated snapshots: change
    classification is exactly {I = new-only keys, D = old-only,
    U = shared with differing value}; I/U rows carry the NEW-side
    payload (D rows NULL); and applying the delta ALONE to old (upsert
    I/U, remove D keys) reconstructs new without consulting it."""
    from prueba_tecnica_analista_etl_spark.operators.upsert import (
        snapshot_diff,
    )

    old_df = keep_first(_df(spark, old), ["k"], [F.asc("pos")]).drop("pos")
    new_df = keep_first(_df(spark, new), ["k"], [F.asc("pos")]).drop("pos")

    old_map: dict[int, int] = {}
    for k, v in old:
        old_map.setdefault(k, v)
    new_map: dict[int, int] = {}
    for k, v in new:
        new_map.setdefault(k, v)

    delta = snapshot_diff(old_df, new_df, ["k"]).collect()
    want = {
        **{k: "I" for k in new_map.keys() - old_map.keys()},
        **{k: "D" for k in old_map.keys() - new_map.keys()},
        **{
            k: "U"
            for k in old_map.keys() & new_map.keys()
            if old_map[k] != new_map[k]
        },
    }
    assert {r["k"]: r["change_type"] for r in delta} == want
    for r in delta:
        if r["change_type"] == "D":
            assert r["v"] is None
        else:
            assert r["v"] == new_map[r["k"]]

    # reconstruction from the delta alone
    rebuilt = dict(old_map)
    for r in delta:
        if r["change_type"] == "D":
            del rebuilt[r["k"]]
        else:
            rebuilt[r["k"]] = r["v"]
    assert rebuilt == new_map


EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=5),      # user
        st.integers(min_value=0, max_value=50),     # second offset
        st.sampled_from(["a", "b", "c"]),           # stage/event type
    ),
    min_size=0,
    max_size=40,
)


def _events_df(spark, rows):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    data = [
        (u, t0 + dt.timedelta(seconds=s), typ, i)
        for i, (u, s, typ) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "user_id long, ts timestamp, event_type string, event_id long"
    )


@given(rows=EVENTS)
@SLOW
def test_ordered_funnel_matches_python_fold(spark, rows):
    """The windowed funnel equals a per-user Python fold: t1 = min
    time of stage a; t_i = min time of stage i STRICTLY AFTER t_{i-1};
    stage count = users with t_i set. Ties, repeats and missing stages
    are all drawn by hypothesis."""
    from prueba_tecnica_analista_etl_spark.operators.events import (
        ordered_funnel,
    )

    got = {
        r["stage"]: r["users"]
        for r in ordered_funnel(
            _events_df(spark, rows), ["a", "b", "c"]
        ).collect()
    }

    per_user: dict[int, list[tuple[int, str]]] = {}
    for u, s, typ in rows:
        per_user.setdefault(u, []).append((s, typ))
    want = {"a": 0, "b": 0, "c": 0}
    for evs in per_user.values():
        prev = None
        for stage in ("a", "b", "c"):
            cand = [
                s
                for s, typ in evs
                if typ == stage and (prev is None or s > prev)
            ]
            if not cand:
                break
            prev = min(cand)
            want[stage] += 1
    assert got == want


@given(rows=EVENTS)
@SLOW
def test_cohort_retention_matches_python_fold(spark, rows):
    """Retention census equals the dict-fold reference: cohort = first
    active day per user, one count per (cohort, floor(Δdays/7))
    over DISTINCT active days."""
    from prueba_tecnica_analista_etl_spark.operators.events import (
        cohort_retention,
    )

    # seconds → days via a 7-second "day" would be wrong: the operator
    # uses real to_date, so spread the offsets across days instead.
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    data = [
        (u, t0 + dt.timedelta(days=s % 20, seconds=s), typ, i)
        for i, (u, s, typ) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "user_id long, ts timestamp, event_type string, event_id long"
    )
    got = {
        (r["cohort_day"], r["week_offset"]): r["n_users"]
        for r in cohort_retention(df).collect()
    }

    days: dict[int, set] = {}
    for u, s, _typ in rows:
        days.setdefault(u, set()).add(
            (t0 + dt.timedelta(days=s % 20, seconds=s)).date()
        )
    # n_users counts DISTINCT users per bucket: a user active on two
    # days of the same period contributes once, not twice.
    buckets: dict[tuple[str, int], set] = {}
    for u, ds in days.items():
        d0 = min(ds)
        for d in ds:
            key = (d0.strftime("%Y-%m-%d"), (d - d0).days // 7)
            buckets.setdefault(key, set()).add(u)
    assert got == {k: len(v) for k, v in buckets.items()}


def test_source_priority_dedup_census_tiles_corpus(spark, sf_dir):
    """The priority-dedup census must tile the corpus exactly
    (Σ kept + Σ lost = |docs|), keep exactly one copy per distinct
    text (Σ kept = |distinct texts|), and every content family's
    surviving copy must come from its minimum-priority source — the
    rule verified independently with a driver-side fold over the
    (text, source, doc_id) triples."""
    from __spark_entry__ import queries
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    q = queries()
    rows = q["q_source_priority_dedup"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_texts = docs.select("text").distinct().count()
    assert sum(r["n_kept"] + r["n_lost"] for r in rows) == n_docs
    assert sum(r["n_kept"] for r in rows) == n_texts

    kept_by_source = {r["source"]: r["n_kept"] for r in rows}
    fams: dict = {}
    for t, s, i in docs.select("text", "source", "doc_id").collect():
        fams.setdefault(t, []).append((int(s.removeprefix("src")), i, s))
    expect: dict = {}
    for copies in fams.values():
        _, _, winner = min(copies)
        expect[winner] = expect.get(winner, 0) + 1
    assert kept_by_source == {
        s: n for s, n in expect.items()
    } | {
        s: kept_by_source[s]
        for s in kept_by_source
        if s not in expect
    }
    assert all(
        kept_by_source.get(s, 0) == 0 for s in kept_by_source
        if s not in expect
    )


def test_train_val_split_partitions_and_is_stable(spark, sf_dir):
    """The split census partitions the corpus exactly (every doc in
    exactly one split), reproduces bit-identically across runs, and
    the split of any given doc never depends on the rest of the
    corpus (checked by re-running on a filtered half)."""
    from __spark_entry__ import queries
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    q = queries()
    a = sorted(map(tuple, q["q_train_val_split"](spark, sf_dir).collect()))
    b = sorted(map(tuple, q["q_train_val_split"](spark, sf_dir).collect()))
    assert a == b and len(a) > 0
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r[2] for r in a) == n_docs
    assert {r[1] for r in a} <= {"train", "val", "test"}
    tr = sum(r[2] for r in a if r[1] == "train")
    # 12/16 expected mass; loose bound catches a broken threshold
    assert 0.5 * n_docs < tr < 0.95 * n_docs


def test_length_histogram_buckets_are_powers_of_two(spark, sf_dir):
    """Every bucket floor is a power of two, the doc counts tile the
    corpus, and per-bucket token mass is consistent with the bucket
    bounds: bucket_lo * n_docs <= total_tokens < 2 * bucket_lo *
    n_docs."""
    from __spark_entry__ import queries
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    q = queries()
    rows = q["q_length_histogram"](spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        lo = r["bucket_lo"]
        assert lo >= 1 and (lo & (lo - 1)) == 0, r
        assert lo * r["n_docs"] <= r["total_tokens"] < 2 * lo * r["n_docs"], r


def test_token_histogram_head_is_exact(spark, sf_dir):
    """The vocab head census must agree with an independently computed
    frequency table: ranks are 1..15 without gaps, tf non-increasing,
    cum_tf is the exact prefix sum, total_tf matches the corpus token
    count, and the 15 (term, tf) pairs equal the true top-15 under
    (tf DESC, term ASC)."""
    import re
    from collections import Counter

    from __spark_entry__ import queries
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    q = queries()
    rows = sorted(
        q["q_token_histogram"](spark, sf_dir).collect(),
        key=lambda r: r["rnk"],
    )
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(
        rows[i]["tf"] >= rows[i + 1]["tf"] for i in range(len(rows) - 1)
    )
    run = 0
    for r in rows:
        run += r["tf"]
        assert r["cum_tf"] == run, r

    cnt: Counter = Counter()
    for (text,) in load_table(spark, sf_dir, "documents").select(
        "text"
    ).collect():
        cnt.update(t for t in text.lower().split(" ") if t)
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[: len(rows)]
    assert [(r["term"], r["tf"]) for r in rows] == want
    assert all(r["total_tf"] == sum(cnt.values()) for r in rows)


def test_bm25_ranks_match_reference_fold(spark, sf_dir):
    """The integer-grid BM25 must reproduce a plain-Python float BM25
    reference ranking over the same corpus: the 10 returned docs are
    the reference's top-10 in order (scores compared at rank level —
    the integer grid quantizes at 1e-6, far below any real score
    gap), every score is positive, and every returned doc contains at
    least one query term."""
    import math
    from collections import Counter

    from __spark_entry__ import queries
    from prueba_tecnica_analista_etl_spark.plans.extensions_text import (
        BM25_QUERY_TERMS,
    )
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    q = queries()
    got = q["q_bm25"](spark, sf_dir).collect()
    assert len(got) == 10
    assert all(r["score_micro"] > 0 for r in got)

    docs = {
        r["doc_id"]: [t for t in r["text"].lower().split(" ") if t]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    n = len(docs)
    t_tokens = sum(len(v) for v in docs.values())
    avgdl = t_tokens / n
    df = {
        t: sum(1 for v in docs.values() if t in v)
        for t in BM25_QUERY_TERMS
    }
    k1, b = 1.2, 0.75

    def score(toks):
        c = Counter(toks)
        s = 0.0
        for t in BM25_QUERY_TERMS:
            tf = c.get(t, 0)
            if not tf or not df[t]:
                continue
            idf = math.log((n + 1) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(toks) / avgdl)
            )
        return s

    ref = sorted(
        ((score(v), -i) for i, v in docs.items() if score(v) > 0),
        reverse=True,
    )[:10]
    assert [r["doc_id"] for r in got] == [-i for _, i in ref]
    for r in got:
        assert any(t in docs[r["doc_id"]] for t in BM25_QUERY_TERMS)


def test_cdc_apply_matches_reference_fold(spark, sf_dir):
    """Changelog compaction must agree with a driver-side fold: per
    user the op with the max (ts, event_id) decides live/deleted, and
    the census counts + exact-decimal value sums match."""
    from decimal import Decimal

    from __spark_entry__ import queries
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    q = queries()
    got = {r["status"]: r for r in q["q_cdc_apply"](spark, sf_dir).collect()}

    last: dict = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .filter("user_id IS NOT NULL")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .collect()
    ):
        key = r["user_id"]
        cand = (r["ts"], r["event_id"], r["event_type"], r["value"])
        if key not in last or cand[:2] > last[key][:2]:
            last[key] = cand
    want: dict = {}
    for _, (_, _, et, v) in last.items():
        st = "deleted" if et == "purchase" else "live"
        n, s = want.get(st, (0, Decimal(0)))
        want[st] = (n + 1, s + Decimal(str(round(v, 2))).quantize(Decimal("0.01")))
    assert set(got) == set(want)
    for st, (n, s) in want.items():
        assert got[st]["n_users"] == n, st
        assert abs(Decimal(str(got[st]["sum_last_value"])) - s) < Decimal(
            "0.01"
        ), st


CDC_LOG = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),            # key
        st.integers(min_value=-50, max_value=50),         # value
        st.sampled_from(["U", "D"]),                      # op
    ),
    min_size=0,
    max_size=25,
)


@given(base=KV, log=CDC_LOG)
@SLOW
def test_cdc_apply_matches_python_fold(spark, base, log):
    """Property: cdc_apply == a sequential Python replay of the log
    over the base snapshot, on arbitrary interleavings of upserts and
    deletes (including re-deletes, upsert-after-delete, deletes of
    absent keys and multiple ops per key). The log's seq column is
    its list position, so 'last op wins' has one unambiguous
    meaning in both implementations."""
    from prueba_tecnica_analista_etl_spark.operators.upsert import (
        cdc_apply,
    )

    base_df = keep_first(_df(spark, base), ["k"], [F.asc("pos")]).drop(
        "pos"
    )
    log_df = spark.createDataFrame(
        [(k, v, op, i) for i, (k, v, op) in enumerate(log)],
        "k long, v long, op string, seq long",
    )
    out = cdc_apply(base_df, keep_first(log_df, ["k"], [F.desc("seq")]), ["k"])
    got = {r["k"]: r["v"] for r in out.collect()}

    state = {}
    for k, v in base:
        state.setdefault(k, v)  # keep_first semantics of the base
    for k, v, op in log:  # sequential replay — last op wins
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    assert got == state


def test_decontaminate_consistent_with_contamination_census(
    spark, sf_dir
):
    """The decontamination APPLY must tile with its census: clean docs
    + flagged docs = the census's per-source doc totals, no benchmark
    doc (doc_id % 50 == 0) ever appears in the output, and the clean
    output's per-source counts equal docs - flagged_docs exactly."""
    from __spark_entry__ import queries

    q = queries()
    census = {
        r["source"]: r.asDict()
        for r in q["q_contamination"](spark, sf_dir).collect()
    }
    clean = q["q_decontaminate"](spark, sf_dir).collect()
    assert all(r["doc_id"] % 50 != 0 for r in clean)
    per_source: dict = {}
    for r in clean:
        per_source[r["source"]] = per_source.get(r["source"], 0) + 1
    for src, c in census.items():
        assert per_source.get(src, 0) == c["docs"] - c["flagged_docs"], src


def test_source_divergence_hand_computed_values(spark, tmp_path):
    """Semantic pin for q_source_divergence on a corpus small enough
    to hand-compute (parity only proves Spark == DuckDB; this proves
    the numbers mean what the docstring claims).

    Two equal-mass single-term sources: each source's distribution is
    a point mass, the corpus is the 50/50 mixture, so per source
    xent = -ln(1/2) = ln 2, ent = -ln(1) = 0, KL = ln 2 — and on the
    integer grid ln 2 is EXACTLY the _LN2_1E6 scale constant (the
    ratio 2 hits the fixed-point logarithm's integer part with zero
    fractional bits, so no rounding is involved)."""
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY
    from prueba_tecnica_analista_etl_spark.plans.extensions_pipeline import (
        _LN2_1E6,
    )

    docs = spark.createDataFrame(
        [(1, "a", "x x x x"), (2, "b", "y y y y")],
        "doc_id long, source string, text string",
    )
    d = str(tmp_path / "div_sf")
    docs.write.parquet(f"{d}/documents.parquet")
    out = {
        r["source"]: r
        for r in REGISTRY["q_source_divergence"].fn(spark, d).collect()
    }
    assert set(out) == {"a", "b"}
    for src in ("a", "b"):
        assert out[src]["tokens"] == 4
        assert out[src]["terms"] == 1
        assert out[src]["xent_micro"] == _LN2_1E6
        assert out[src]["ent_micro"] == 0
        assert out[src]["kl_micro"] == _LN2_1E6


def test_source_divergence_zero_for_corpus_identical_source(
    spark, tmp_path
):
    """A source distributed exactly like the corpus has KL = 0 — not
    approximately: identical (total, cnt) ratios feed the identical
    integer log fold, so nlp_p == nlp_q term-by-term and the
    difference of the two floor-divided sums is exactly zero. Two
    sources carrying the same token mix pin it."""
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY

    docs = spark.createDataFrame(
        [(1, "a", "x x y"), (2, "b", "x x y")],
        "doc_id long, source string, text string",
    )
    d = str(tmp_path / "div0_sf")
    docs.write.parquet(f"{d}/documents.parquet")
    rows = REGISTRY["q_source_divergence"].fn(spark, d).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["kl_micro"] == 0
        assert r["xent_micro"] == r["ent_micro"]
        assert r["xent_micro"] > 0  # mixed tokens: entropy is positive


DOCS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.lists(
            st.sampled_from(["x", "y", "z", "w", ""]),
            min_size=1,
            max_size=8,
        ).map(" ".join),
    ),
    min_size=1,
    max_size=12,
)


@given(docs=DOCS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_source_divergence_matches_python_bigint_fold(spark, docs):
    """Property: the census equals an independent pure-Python
    arbitrary-precision-integer replay on arbitrary tiny corpora —
    including empty tokens (double spaces), sources whose every doc
    is blank (they must vanish, not report zeros), and single-term
    sources. Guards the Spark expression and the oracle's unrolled
    CTE chain against refactors with a third implementation that
    shares no code with either."""
    import tempfile
    from collections import Counter

    from tests.test_intlog import _nlp6_py

    from prueba_tecnica_analista_etl_spark.plans import REGISTRY

    stf: Counter = Counter()
    for src, text in docs:
        for tok in text.lower().split(" "):
            if tok:
                stf[(src, tok)] += 1
    expected = {}
    if stf:
        total = sum(stf.values())
        vocab: Counter = Counter()
        stot: Counter = Counter()
        for (s, t), c in stf.items():
            vocab[t] += c
            stot[s] += c
        for s in stot:
            xe = sum(
                c * _nlp6_py(total, vocab[t])
                for (s2, t), c in stf.items()
                if s2 == s
            )
            en = sum(
                c * _nlp6_py(stot[s], c)
                for (s2, t), c in stf.items()
                if s2 == s
            )
            xent, ent = xe // stot[s], en // stot[s]
            expected[s] = (
                stot[s],
                sum(1 for (s2, _) in stf if s2 == s),
                xent,
                ent,
                xent - ent,
            )

    d = tempfile.mkdtemp(prefix="divprop_")
    spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(docs)],
        "doc_id long, source string, text string",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r["source"]: (
            r["tokens"],
            r["terms"],
            r["xent_micro"],
            r["ent_micro"],
            r["kl_micro"],
        )
        for r in REGISTRY["q_source_divergence"].fn(spark, d).collect()
    }
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),  # distinct keys later
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=25,
    ),
    n_buckets=st.sampled_from([1, 3, 8, 64]),
)
@SLOW
def test_bucketed_prefix_sums_equals_window_form(spark, rows, n_buckets):
    """bucketed_prefix_sums == the single-window exclusive cumulative
    on any generated per-key frame, for any bucket granularity —
    including negative sum values (offsets must carry signs), keys
    denser than the grid, and the one-bucket degenerate grid."""
    from prueba_tecnica_analista_etl_spark.operators.rank import (
        bucketed_prefix_sums,
        numeric_bucket,
    )
    from pyspark.sql import Window

    # one row per distinct key (the operator's contract)
    dedup = {}
    for k, a, b in rows:
        dedup.setdefault(k, (a, b))
    frame = [(float(k), a, b) for k, (a, b) in dedup.items()]
    df = spark.createDataFrame(frame, "v double, ca long, cb long")
    lo = min(r[0] for r in frame)
    hi = max(r[0] for r in frame)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["v"]: (r["x"], r["y"])
        for r in df.select(
            "v",
            F.coalesce(F.sum("ca").over(w), F.lit(0)).alias("x"),
            F.coalesce(F.sum("cb").over(w), F.lit(0)).alias("y"),
        ).collect()
    }
    got = {
        r["v"]: (r["cum_ca"], r["cum_cb"])
        for r in bucketed_prefix_sums(
            df,
            numeric_bucket(F.col("v"), lo, hi, n_buckets),
            "v",
            ["ca", "cb"],
        ).collect()
    }
    assert got == want


BATCHES = st.lists(
    st.lists(
        st.one_of(
            st.none(), st.integers(min_value=0, max_value=10_000)
        ),
        min_size=0,
        max_size=8,
    ),
    min_size=1,
    max_size=5,
)


@given(batches=BATCHES, delay=st.sampled_from([0, 5, 100]))
@settings(
    max_examples=6,  # each example is ~10 parquet writes — keep the
    # suite's wall budget; 6 shrunk examples still cover disorder,
    # NULLs, empties and replays
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_late_dlq_router_conservation_and_rule(spark, batches, delay):
    """streaming/late_dlq.py as a pure batch fold (its foreachBatch
    function is directly callable): over ARBITRARY event-time batch
    sequences — disorder, duplicates, NULLs, empty batches — the
    router must (a) conserve every input row across main ∪ DLQ, and
    (b) route row r of batch N to the DLQ iff its event time is NULL
    (unconditionally — NULL ts is un-watermarkable even before any
    threshold exists) or strictly below
    max(event time over batches < N) - delay — exactly the documented
    threshold rule. Replaying a batch must also be idempotent (same
    batch_id dirs overwritten, ledger unchanged)."""
    import os
    import tempfile
    import uuid

    from prueba_tecnica_analista_etl_spark.streaming.late_dlq import (
        late_dlq_sink,
        read_routed,
    )

    root = os.path.join(
        tempfile.gettempdir(), f"dlqprop_{uuid.uuid4().hex[:10]}"
    )
    process = late_dlq_sink(root, float(delay), time_col="ts")

    def frame(rows, bid):
        return spark.createDataFrame(
            [
                (bid * 1000 + i, None if s is None else float(s))
                for i, s in enumerate(rows)
            ],
            "row_id long, ts_s double",
        ).select(
            "row_id", F.timestamp_seconds(F.col("ts_s")).alias("ts")
        )

    for bid, rows in enumerate(batches):
        process(frame(rows, bid), bid)

    main = read_routed(spark, root, "main")
    dlq = read_routed(spark, root, "dlq")
    got_main = {r["row_id"] for r in main.collect()} if main is not None else set()
    got_dlq = {r["row_id"] for r in dlq.collect()} if dlq is not None else set()

    want_dlq, seen_max = set(), None
    for bid, rows in enumerate(batches):
        threshold = None if seen_max is None else seen_max - delay
        for i, s in enumerate(rows):
            rid = bid * 1000 + i
            if s is None or (threshold is not None and s < threshold):
                want_dlq.add(rid)
        batch_max = max((s for s in rows if s is not None), default=None)
        if batch_max is not None:
            seen_max = batch_max if seen_max is None else max(seen_max, batch_max)

    all_ids = {
        bid * 1000 + i
        for bid, rows in enumerate(batches)
        for i in range(len(rows))
    }
    assert got_main | got_dlq == all_ids
    assert got_main & got_dlq == set()
    assert got_dlq == want_dlq

    # idempotent replay of the last batch: identical routing, no dupes
    last = len(batches) - 1
    process(frame(batches[last], last), last)
    main2 = read_routed(spark, root, "main")
    dlq2 = read_routed(spark, root, "dlq")
    assert ({r["row_id"] for r in main2.collect()} if main2 is not None else set()) == got_main
    assert ({r["row_id"] for r in dlq2.collect()} if dlq2 is not None else set()) == got_dlq

    import shutil

    shutil.rmtree(root, ignore_errors=True)


VECS = st.lists(
    st.lists(
        st.floats(
            min_value=-10.0,
            max_value=10.0,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        min_size=8,
        max_size=8,
    ),
    min_size=2,
    max_size=6,
)


@given(vecs=VECS)
@SLOW
def test_sign_words_matches_numpy_reference(spark, vecs):
    """sign_words over arbitrary float vectors equals a direct numpy
    re-derivation of the documented construction: quantize to the
    floor(x*1e6+0.5) integer grid, dot with the ±1 planes, pack sign
    bits little-endian into 32-bit words — the exactness claim the
    q_ann_lsh oracle rests on, as a property over generated inputs
    rather than the fixed corpus."""
    import numpy as np

    from prueba_tecnica_analista_etl_spark.functions.vectors import (
        random_hyperplanes,
        sign_words,
    )

    dim = 8
    planes = random_hyperplanes(40, dim)  # 2 words: 32 + 8
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, v array<double>",
    )
    got = {
        r["id"]: list(r["w"])
        for r in df.select(
            "id", sign_words(F.col("v"), planes, 32).alias("w")
        ).collect()
    }
    P = np.asarray(planes, dtype=np.int64).T
    for i, v in enumerate(vecs):
        q = np.floor(np.asarray(v, dtype=np.float64) * 1e6 + 0.5).astype(
            np.int64
        )
        bits = (q @ P) >= 0
        want = [
            int(
                (
                    bits[w * 32 : (w + 1) * 32]
                    @ (1 << np.arange(min(32, 40 - w * 32)))
                )
            )
            for w in range(2)
        ]
        assert got[i] == want, (i, got[i], want)


@given(vecs=VECS)
@SLOW
def test_quantized_cosine_tracks_exact(spark, vecs):
    """int8 quantization property over generated vectors: quantized
    components stay inside int8, and the quantized cosine of any two
    NON-ZERO vectors stays within the per-component error budget of
    the exact cosine (|Δ| <= dim * (1/127) conservatively — the
    q_embed_quantize claim generalized off the fixture corpus)."""
    import numpy as np

    V = np.asarray(vecs, dtype=np.float64)
    norms = np.linalg.norm(V, axis=1)
    if (norms < 1e-9).any():
        return  # degenerate draw: zero vectors have no cosine
    sc = 127.0 / np.maximum(np.abs(V).max(axis=1), 1e-12)
    Q = np.floor(V * sc[:, None] + 0.5)
    assert Q.min() >= -128 and Q.max() <= 127
    qn = np.linalg.norm(Q, axis=1)
    if (qn < 1e-9).any():
        return  # all-tiny vector quantized to zero
    exact = (V @ V.T) / np.outer(norms, norms)
    quant = (Q @ Q.T) / np.outer(qn, qn)
    # per-component quantization error <= 0.5/127 of the max-abs
    # component; across an 8-dim unit-normalized dot the loose bound
    # below holds with wide margin (measured worst case ~0.02)
    assert np.abs(exact - quant).max() <= 8 * (1.0 / 127.0)


UNI_TEXT = st.lists(
    st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_categories=("Cs",)
        ),
        max_size=24,
    ),
    min_size=1,
    max_size=6,
)


@given(texts=UNI_TEXT)
@SLOW
def test_nfc_normalize_idempotent_and_matches_python(spark, texts):
    """NFC properties over generated unicode (the normalizer runs on
    arbitrary corpus bytes at 100 TB, not just the fixture accents):
    the Spark column equals CPython's unicodedata reference for every
    row, and normalizing twice equals normalizing once (idempotence —
    the property that lets a pipeline re-run the hygiene pass on
    already-clean shards as a no-op)."""
    import unicodedata

    from prueba_tecnica_analista_etl_spark.functions.text import (
        nfc_normalize,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, t string"
    )
    out = {
        r["id"]: (r["once"], r["twice"])
        for r in df.select(
            "id",
            nfc_normalize(F.col("t")).alias("once"),
            nfc_normalize(nfc_normalize(F.col("t"))).alias("twice"),
        ).collect()
    }
    for i, t in enumerate(texts):
        want = unicodedata.normalize("NFC", t)
        assert out[i][0] == want, (t, out[i][0], want)
        assert out[i][1] == want
