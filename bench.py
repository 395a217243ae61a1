#!/usr/bin/env python
"""Benchmark: run every declared query at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; print a per-query-detail JSON line
followed by a compact summary JSON line (the summary is LAST so a
bounded stdout-tail capture always holds it complete — a single
line lost its parsed metric to the growing per-query dict).

Trial protocol: JVM JIT/GC variance between
process invocations is ±1-2 s — the same order as round-over-round
deltas — so a single invocation cannot support a regression claim.
The default entrypoint therefore runs $SPARK_GRAFT_BENCH_TRIALS (=3)
FULL process invocations (fresh JVM each) of itself with ``--single``
and reports the MEDIAN wall alongside best and the raw trials; BASELINE
comparisons quote the median. ``--single`` preserves the old one-process
behavior (used by the orchestrator and for quick iteration). The
per-query sequential detail pass runs only in trial 1; later trials
receive its timings via ``--lpt-from`` (for LPT submission order) and
skip the pass — at registry size 100+ that ~60 s saving is what keeps
a 3-trial median inside the wall budget instead of truncating to a
2-trial mean that one loaded trial can drag.

Within one trial, results are executed via the ``noop`` sink (full
pipeline runs, nothing collected to the driver) so timings measure the
engine, not result transfer. One warm-up pass absorbs JVM/codegen
startup — totals, not cold starts, are the metric (BASELINE.md).
"""

from __future__ import annotations

import hashlib
import gc
import json
import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def run_query(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def single() -> None:
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY
    from prueba_tecnica_analista_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or 0)
    # Record whether this corpus's disk-backed artifact store was
    # already warm when the trial started (an honesty flag: with the
    # store, per-corpus builds — IVF index, pair frames, exhaustive
    # truths, stream sinks — are paid once EVER, so a warm-store trial
    # measures steady state while a cold-store trial 1 includes the
    # one-time builds; the flag makes the payload self-describing).
    from prueba_tecnica_analista_etl_spark.artifacts import (
        _corpus_tag,
        artifact_root,
    )

    store_warm = os.path.isdir(
        os.path.join(artifact_root(), _corpus_tag(sf_dir))
    )
    spark = get_spark(app_name="bench")

    # Full warm-up pass: JVM classloading + JIT + codegen caches, not
    # counted (BASELINE.md: totals, not cold starts, are the metric —
    # first use of e.g. the JSON codepath costs ~5 s of classloading
    # that has nothing to do with query execution). Submitted through
    # the same thread pool as the measured passes — warm-up only needs
    # every code path EXECUTED once, not sequentially, and the
    # concurrent form shaves ~20-30 s off each trial's wall.
    with ThreadPoolExecutor(max_workers=16) as ex:
        list(
            ex.map(
                lambda spec: run_query(spec.fn(spark, sf_dir)),
                REGISTRY.values(),
            )
        )

    # Explicit gc between passes is load-bearing, not hygiene: py4j
    # frees JVM-side plan objects only when their Python proxies are
    # collected, and the plan-heavy passes create cyclic Column/
    # DataFrame graphs faster than Python's incremental GC clears them.
    # Without it the JVM pins gigabytes of dead plans and pass times
    # degrade monotonically (measured 6.5 → 28.8 s over 4 passes).
    gc.collect()

    # Measured pass 1: sequential, per-query latencies. Runs once per
    # BENCH, not once per trial: the orchestrator passes trial 1's
    # timings to later trials via --lpt-from, which skips this pass
    # (it exists for the per-query detail and the LPT order, neither
    # of which needs remeasuring) — the saved ~60 s per trial is what
    # lets a 3-trial median fit the wall budget at registry size 100+.
    lpt_from = next(
        (
            a.split("=", 1)[1]
            for a in sys.argv[1:]
            if a.startswith("--lpt-from=")
        ),
        None,
    )
    timings: dict[str, float] = {}
    if lpt_from is not None:
        with open(lpt_from) as fh:
            timings = json.load(fh)
        # Equalize warmth with detail trials: the sequential pass this
        # trial skips was also a second full warm pass (JIT tiers,
        # page cache); without a stand-in the measured concurrent
        # walls of --lpt-from trials start colder than trial 1's. A
        # concurrent warm pass costs ~20 s vs the ~60 s sequential.
        gc.collect()
        with ThreadPoolExecutor(max_workers=16) as ex:
            list(
                ex.map(
                    lambda spec: run_query(spec.fn(spark, sf_dir)),
                    REGISTRY.values(),
                )
            )
    else:
        for name, spec in sorted(REGISTRY.items()):
            t0 = time.perf_counter()
            run_query(spec.fn(spark, sf_dir))
            timings[name] = round(time.perf_counter() - t0, 3)
        # Median-of-2 detail for the heaviest queries: the per-query
        # detail was single-trial by design, and single-sample noise on
        # ~0.5 s queries generated phantom 20-40% "regressions" every
        # round. The top-N by first-pass
        # time get ONE more timed run (~12 s at N=20) and ship the
        # two-sample average; both samples stay visible — pass 1
        # rides the detail line as queries_pass1, and the summary
        # carries detail_median2_n. Timed region per query unchanged
        # (same noop-sink execution, same sequential protocol).
        top = sorted(timings, key=lambda n: -timings[n])[:DETAIL_MEDIAN2_N]
        pass1 = {n: timings[n] for n in top}
        gc.collect()
        for name in top:
            t0 = time.perf_counter()
            run_query(REGISTRY[name].fn(spark, sf_dir))
            t1 = round(time.perf_counter() - t0, 3)
            timings[name] = round((pass1[name] + t1) / 2, 3)

    # Measured pass 2: the whole declared workload submitted through a
    # thread pool — Spark's scheduler interleaves independent jobs, so
    # total wall-clock reflects engine throughput instead of 44× the
    # per-job scheduling floor (which dominates at this tiny sf).
    # 16 submission threads saturate the 32-vCPU scheduler (measured
    # faster than 8 or 24); best of two passes filters scheduler jitter.
    # Longest-first submission (LPT, ordered by the sequential pass's
    # latencies): the multi-second streaming queries must START first
    # or the makespan becomes "when they were dequeued + their 3 s"
    # instead of max(longest query, total work / workers).
    lpt = sorted(
        REGISTRY.items(), key=lambda kv: -timings.get(kv[0], 0.0)
    )
    concurrent_total = float("inf")
    for _ in range(2):
        gc.collect()
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=16) as ex:
            list(
                ex.map(
                    lambda kv: run_query(kv[1].fn(spark, sf_dir)),
                    lpt,
                )
            )
        concurrent_total = min(
            concurrent_total, round(time.perf_counter() - t0, 3)
        )

    # Measured pass 3: the ORACLE-MATCHED subset only — the queries the
    # DuckDB baseline actually runs (BASELINE.md compares against a
    # DuckDB execution of oracle_sql(); the rows-only extension queries
    # have no DuckDB counterpart, so including them overstates the
    # gap). Reported alongside, never substituted for, the full total.
    oracle_specs = [
        (n, s) for n, s in lpt if s.oracle is not None
    ]  # keep LPT order
    oracle_subset_total = float("inf")
    for _ in range(2):
        gc.collect()
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=16) as ex:
            list(
                ex.map(
                    lambda kv: run_query(kv[1].fn(spark, sf_dir)),
                    oracle_specs,
                )
            )
        oracle_subset_total = min(
            oracle_subset_total, round(time.perf_counter() - t0, 3)
        )

    payload = {
        "metric": "declared_queries_total_wall",
        "value": concurrent_total,
        "unit": "sec",
        "mode": "concurrent-16-threads-best-of-2",
        "oracle_subset_wall": oracle_subset_total,
        "oracle_subset_n": len(oracle_specs),
        "artifact_store_warm": store_warm,
        "queries": timings,
        "sf": sf,
    }
    if lpt_from is not None:
        # The per-query dict is trial 1's detail REUSED for LPT order,
        # not a fresh measurement — tag it machine-readably and omit
        # sequential_total (this trial never ran a sequential pass), so
        # a consumer of a single trial record can't mistake copied
        # detail for measured detail.
        payload["queries_from_trial"] = 1
    else:
        payload["sequential_total"] = round(sum(timings.values()), 3)
        payload["detail_median2_n"] = len(pass1)
        payload["queries_pass1"] = pass1
    print(json.dumps(payload))
    spark.stop()


# Degraded-VM detection for the per-query detail:
# a steal-heavy window inflates UNTOUCHED queries ×2.5-3.3 with a
# global ~×1.3 median vs the previous round's detail. When trial 1's
# sequential detail shows that signature, its q_ms array is weather,
# not engineering — such a record once shipped phantom 2-3×
# "regressions" that had to be re-measured by hand.
DETAIL_DEGRADED_RATIO = 1.3

# The N slowest queries of the sequential detail get a second timed
# run and ship the two-sample average: ~12 s of
# extra trial-1 wall buys per-query numbers the round-over-round
# comparators can trust on the heavy tail.
DETAIL_MEDIAN2_N = 20


def _prev_detail(path: str, sf: float | None) -> dict[str, float]:
    """Previous round's named per-query detail (BENCH_DETAIL_LATEST
    .json), or {} when absent/unreadable/measured at a different sf
    (cross-sf ratios would be meaningless)."""
    try:
        with open(path) as fh:
            d = json.load(fh)
    except (OSError, ValueError):
        return {}
    if sf is not None and d.get("sf") not in (None, sf):
        return {}
    q = d.get("queries")
    return q if isinstance(q, dict) else {}


def _detail_ratio(
    cur: dict[str, float], prev: dict[str, float]
) -> float | None:
    """Median per-query current/previous ratio over shared names, or
    None when too few comparable points (first round, registry churn,
    sub-50ms queries whose ratios are scheduling noise)."""
    shared = [
        n
        for n, v in cur.items()
        if v > 0 and prev.get(n, 0.0) > 0.05
    ]
    if len(shared) < 20:
        return None
    return statistics.median(cur[n] / prev[n] for n in shared)


def orchestrate() -> None:
    """Run N full process invocations of ``--single`` (fresh JVM each)
    and report the median wall: one invocation's JIT/GC draw is ±1-2 s
    noise, the median of three is a supportable number. stdout carries
    exactly TWO JSON lines — the per-query detail first, the compact
    summary LAST (the driver contract: a bounded stdout-tail capture
    must always contain one complete parseable line; do NOT merge them
    back into one line, or an overflowing tail leaves "parsed": null).
    Trial progress goes to stderr.

    Per-query detail provenance: normally only
    trial 1 measures the sequential detail. If that detail carries the
    documented degraded-VM signature (median per-query ratio vs the
    previous round's BENCH_DETAIL_LATEST.json > ×1.3), trial 2 re-runs
    the sequential pass (once — bounded cost), and the summary's q_ms
    comes from the best-wall trial that actually measured detail,
    flagged via ``detail_trial`` + ``detail_trial_wall`` so a consumer
    can see exactly which invocation produced the array."""
    trials_n = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    # Wall budget for the WHOLE bench (driver timeouts are not ours to
    # set): if the elapsed time plus a conservatively-estimated next
    # trial would cross it, stop and report the trials already run —
    # a 2-trial median beats an rc=137 kill mid-trial-3.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "480"))
    bench_t0 = time.perf_counter()
    detail_file = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL_FILE",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_DETAIL_LATEST.json",
        ),
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(
        os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or 0
    )
    prev_detail = _prev_detail(detail_file, sf)
    trials: list[dict] = []
    durations: list[float] = []
    detail_trials: list[int] = []  # indices that MEASURED detail
    detail_retried = False
    force_detail_next = False
    lpt_path: str | None = None
    for i in range(trials_n):
        # Project the NEXT trial's cost from the most recent trial.
        # For the trial-2 decision the only sample is trial 1, which
        # carries the ~60 s sequential-detail pass trial 2 will skip
        # (--lpt-from replaces it with a concurrent warm pass) —
        # projecting at trial 1's full wall over-estimates and can
        # truncate a bench whose budget fits two trials.
        # Estimate the stand-in from trial 1's MEASURED concurrent
        # wall rather than a fixed 1/3-of-sequential factor (on a
        # steal-heavy VM the fixed factor under-estimates and the
        # bench overshoots its budget), and clamp at the
        # concurrent work trial 2 demonstrably repeats (two full +
        # two oracle-subset passes) so the projection can never drop
        # below a physical lower bound.
        measure_detail = lpt_path is None or force_detail_next
        projected = durations[-1] if durations else 0.0
        if len(trials) == 1 and not measure_detail:
            seq = trials[0].get("sequential_total") or 0.0
            stand_in = float(trials[0].get("value") or 0.0)
            floor = 2.0 * stand_in + 2.0 * float(
                trials[0].get("oracle_subset_wall") or 0.0
            )
            projected = max(projected - seq + stand_in, floor)
        if trials and (
            time.perf_counter() - bench_t0 + projected > budget_s
        ):
            print(
                f"bench budget {budget_s}s would be exceeded by trial "
                f"{i + 1}; reporting median of {len(trials)}",
                file=sys.stderr,
            )
            break
        t0 = time.perf_counter()
        argv = [sys.executable, os.path.abspath(__file__), "--single"]
        if not measure_detail:
            argv.append(f"--lpt-from={lpt_path}")
        proc = subprocess.run(
            argv,
            stdout=subprocess.PIPE,
            text=True,
        )
        if proc.returncode != 0:
            print(
                f"bench trial {i + 1}/{trials_n} failed "
                f"(rc={proc.returncode})",
                file=sys.stderr,
            )
            sys.exit(proc.returncode)
        line = next(
            (
                l
                for l in reversed(proc.stdout.splitlines())
                if l.startswith("{")
            ),
            None,
        )
        if line is None:
            print(
                f"bench trial {i + 1}/{trials_n}: rc=0 but no JSON "
                f"line on stdout; tail: {proc.stdout[-500:]!r}",
                file=sys.stderr,
            )
            sys.exit(1)
        trials.append(json.loads(line))
        durations.append(time.perf_counter() - t0)
        force_detail_next = False
        if measure_detail:
            detail_trials.append(i)
            ratio = _detail_ratio(
                trials[-1].get("queries", {}), prev_detail
            )
            if (
                ratio is not None
                and ratio > DETAIL_DEGRADED_RATIO
                and not detail_retried
                and i + 1 < trials_n
            ):
                # Trial hit the degraded-VM signature: its walls still
                # count toward the median (weather is part of the
                # distribution), but its per-query array must not ship
                # as THE detail — re-measure once in the next trial.
                detail_retried = True
                force_detail_next = True
                print(
                    f"bench trial {i + 1}: detail degraded "
                    f"(×{ratio:.2f} median vs previous round) — "
                    "re-measuring sequential detail next trial",
                    file=sys.stderr,
                )
        if lpt_path is None:
            # Hand trial 1's per-query timings to later trials: they
            # reuse the LPT order and skip the sequential pass.
            import tempfile

            fd, lpt_path = tempfile.mkstemp(
                prefix="bench_lpt_", suffix=".json"
            )
            with os.fdopen(fd, "w") as fh:
                json.dump(trials[0].get("queries", {}), fh)
        elif measure_detail:
            # A re-measure replaced a degraded detail: refresh the
            # LPT order from the clean timings — degraded inflation is
            # non-uniform (x2.5-3.3 on untouched queries), so the
            # stale order could submit a genuinely short query first
            # and stretch the remaining trials' makespan.
            with open(lpt_path, "w") as fh:
                json.dump(trials[-1].get("queries", {}), fh)
        print(
            f"bench trial {i + 1}/{trials_n}: "
            f"total={trials[-1]['value']} "
            f"oracle={trials[-1]['oracle_subset_wall']} "
            f"({round(time.perf_counter() - t0, 1)} s incl. startup)",
            file=sys.stderr,
        )

    walls = [t["value"] for t in trials]
    median_wall = statistics.median(walls)
    # per-query dict and subset walls come from the median-wall trial
    # (a real invocation, not a per-key mix of incomparable JVMs)
    median_trial = min(trials, key=lambda t: abs(t["value"] - median_wall))
    out = dict(median_trial)
    out.update(
        {
            "value": median_wall,
            "best": min(walls),
            "median": median_wall,
            "trials": len(trials),
            "trial_walls": walls,
            "oracle_subset_wall": statistics.median(
                t["oracle_subset_wall"] for t in trials
            ),
            "oracle_subset_walls": [
                t["oracle_subset_wall"] for t in trials
            ],
            "mode": f"median-of-{len(trials)}-process-invocations "
            "(concurrent-16-threads-best-of-2 within each; "
            "per-query sequential detail from detail_trial)",
        }
    )
    # Two-line output (a one-line record once had "parsed": null — the
    # 77-entry per-query dict overflowed the driver's stdout tail
    # capture, leaving no complete JSON line to parse): line 1 carries
    # the per-query dict for humans and archives; line 2 — LAST, so a
    # bounded tail always contains it whole — is the compact summary
    # with every headline number and no per-query payload.
    if lpt_path is not None:
        try:
            os.unlink(lpt_path)
        except OSError:
            pass
    out.pop("queries", None)
    out.pop("queries_from_trial", None)
    # the 20-entry pass-1 dict belongs on the detail line, not in the
    # bounded-tail summary
    out.pop("queries_pass1", None)
    out.pop("detail_median2_n", None)
    # The shipped per-query detail comes from the measured trials
    # preferring CLEAN ones: a trial can post a
    # good concurrent wall while its sequential pass hit the steal
    # window, so selection filters on the detail's OWN degraded
    # signature first and only then takes the best wall. Falling back
    # to all measured trials (everything degraded, or no reference to
    # judge by) keeps the summary honest via detail_degraded.
    # detail_trial/detail_trial_wall make the provenance explicit.
    def _t_ratio(di: int) -> float | None:
        return _detail_ratio(
            trials[di].get("queries", {}), prev_detail
        )

    clean = [
        di
        for di in detail_trials
        if (_t_ratio(di) or 0.0) <= DETAIL_DEGRADED_RATIO
    ]
    best_di = min(
        clean or detail_trials, key=lambda di: trials[di]["value"]
    )
    queries = trials[best_di].get("queries", {})
    out["queries_n"] = len(queries)
    out["detail_trial"] = best_di + 1
    out["detail_trial_wall"] = trials[best_di]["value"]
    out["detail_median2_n"] = trials[best_di].get(
        "detail_median2_n", 0
    )
    ratio = _detail_ratio(queries, prev_detail)
    if ratio is not None:
        out["detail_vs_prev_ratio"] = round(ratio, 2)
        if ratio > DETAIL_DEGRADED_RATIO:
            out["detail_degraded"] = True
    # The external record keeps only a BOUNDED stdout tail (measured:
    # 2000 bytes), which truncated the front of the named per-query
    # dict every round (regressions in the alphabet's front half were
    # invisible). The summary
    # line therefore carries the complete per-query detail in the
    # only form that fits: a positional millisecond array over
    # sorted(query names) — the names are reconstructable from the
    # registry, and sorted order is stable across rounds. ~600 bytes
    # for 116 queries vs ~2.6 KB named.
    out["q_ms_order"] = "sorted(registry names)"
    out["q_ms"] = [
        int(round(queries[n] * 1000)) for n in sorted(queries)
    ]
    # Alignment guard: a mid-round registry addition
    # shifts every q_ms position after it with no in-band signal — a
    # round-over-round comparator aligning by index would silently
    # attribute timings to the wrong queries. q_ms_n plus a short
    # hash of the sorted name list lets a consumer detect registry
    # drift BEFORE comparing positions (names differing => realign
    # via BENCH_DETAIL_LATEST.json's named map).
    out["q_ms_n"] = len(queries)
    out["q_ms_names_md5"] = hashlib.md5(
        ",".join(sorted(queries)).encode()
    ).hexdigest()[:8]
    # Full NAMED map for humans and archives: line 1 of stdout (still
    # subject to the tail cut) AND a repo file that survives whole.
    # A detail that STILL carries the degraded signature must not
    # overwrite the clean reference — next round's degraded check
    # would compare weather against weather and see nothing.
    detail = {"detail": "per_query_sequential_sec", "queries": queries}
    if trials[best_di].get("queries_pass1"):
        # the re-measured heavy tail's FIRST samples — committed so a
        # reader can see both sides of every median-of-2 entry
        detail["queries_pass1"] = trials[best_di]["queries_pass1"]
    if not out.get("detail_degraded"):
        try:
            with open(detail_file, "w") as fh:
                json.dump(
                    {"sf": out.get("sf"), "queries": queries},
                    fh,
                    indent=1,
                )
        except OSError:
            pass  # read-only checkout: stdout still carries the detail
    print(json.dumps(detail))
    line = json.dumps(out)
    if len(line) > 1900:
        # never risk the driver's bounded tail losing the summary —
        # headline numbers beat positional detail if it comes to that
        out.pop("q_ms", None)
        out["q_ms_dropped"] = "summary line would exceed tail capture"
        line = json.dumps(out)
        print(
            "bench: q_ms dropped from summary (line too long)",
            file=sys.stderr,
        )
    print(line)


def price_builds() -> None:
    """Cold-store artifact pricing: every
    recorded bench trial runs warm-store, so the one-time per-corpus
    build costs (IVF index, signature/pair/feature frames, stream
    replays) appear in NO committed number. This mode points the
    artifact store at a fresh scratch directory, runs the whole
    registry once sequentially (every build fires cold), and prints
    one JSON line with the per-artifact build seconds measured inside
    artifacts.py plus the cold-pass wall. It never touches the real
    store or the standing bench protocol — run explicitly, commit the
    output (ARTIFACT_BUILDS_r{N}.json)."""
    import tempfile

    scratch = tempfile.mkdtemp(prefix="ptae_price_builds_")
    os.environ["PTAE_ARTIFACT_DIR"] = scratch  # before package import

    from prueba_tecnica_analista_etl_spark import artifacts
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY
    from prueba_tecnica_analista_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or 0)
    spark = get_spark(app_name="bench-price-builds")
    t0 = time.perf_counter()
    for _, spec in sorted(REGISTRY.items()):
        run_query(spec.fn(spark, sf_dir))
    wall = round(time.perf_counter() - t0, 3)
    builds = {
        k: round(v, 3)
        for k, v in sorted(
            artifacts.BUILD_SECONDS.items(), key=lambda kv: -kv[1]
        )
    }
    print(
        json.dumps(
            {
                "metric": "artifact_build_cost",
                "unit": "sec",
                "sf": sf,
                "store": "cold-scratch",
                "cold_pass_wall": wall,
                "total_build_sec": round(sum(builds.values()), 3),
                "n_artifacts": len(builds),
                "build_sec": builds,
            }
        )
    )
    spark.stop()
    import shutil

    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    if "--price-builds" in sys.argv[1:]:
        price_builds()
    elif "--single" in sys.argv[1:]:
        single()
    else:
        orchestrate()
