"""Bench orchestrator protocol tests (no Spark; subprocess faked).

Pins that the per-query detail array shipped in
the summary must be provably from a CLEAN trial. When trial 1's
sequential detail carries the documented degraded-VM signature
(median per-query ratio vs the previous round's
BENCH_DETAIL_LATEST.json > ×1.3), the orchestrator must re-measure
the detail in trial 2 and flag the chosen provenance via
``detail_trial``/``detail_trial_wall``.
"""

from __future__ import annotations

import importlib.util
import json
import os
import types

import pytest


@pytest.fixture()
def bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _payload(wall: float, queries: dict, measured: bool) -> dict:
    p = {
        "metric": "declared_queries_total_wall",
        "value": wall,
        "unit": "sec",
        "mode": "concurrent-16-threads-best-of-2",
        "oracle_subset_wall": wall * 0.9,
        "oracle_subset_n": len(queries),
        "artifact_store_warm": True,
        "queries": queries,
        "sf": 0.1,
    }
    if measured:
        p["sequential_total"] = round(sum(queries.values()), 3)
    else:
        p["queries_from_trial"] = 1
    return p


def _run_orchestrate(bench, monkeypatch, tmp_path, capsys, script):
    """Drive orchestrate() with a canned per-trial script:
    ``script(i, measured_detail)`` returns (wall, queries)."""
    calls: list[bool] = []

    def fake_run(argv, stdout=None, text=None):
        i = len(calls)
        measured = not any(a.startswith("--lpt-from=") for a in argv)
        calls.append(measured)
        wall, queries = script(i, measured)
        # an lpt trial echoes trial 1's (copied) detail like single()
        out = json.dumps(_payload(wall, queries, measured))
        return types.SimpleNamespace(returncode=0, stdout=out + "\n")

    detail_file = tmp_path / "DETAIL.json"
    monkeypatch.setenv(
        "SPARK_GRAFT_BENCH_DETAIL_FILE", str(detail_file)
    )
    monkeypatch.setenv("SPARK_GRAFT_BENCH_TRIALS", "3")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_S", "10000")
    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    bench.orchestrate()
    lines = [
        ln
        for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("{")
    ]
    assert len(lines) == 2, lines
    return json.loads(lines[-1]), calls, detail_file


PREV = {f"q{i:03d}": 0.5 for i in range(40)}
CLEAN = {n: v * 1.04 for n, v in PREV.items()}
DEGRADED = {n: v * 2.0 for n, v in PREV.items()}


def _write_prev(tmp_path) -> None:
    with open(tmp_path / "DETAIL.json", "w") as fh:
        json.dump({"sf": 0.1, "queries": PREV}, fh)


def test_clean_trial1_detail_kept(bench, monkeypatch, tmp_path, capsys):
    """No degraded signature → trial 1's detail ships, trials 2-3 use
    --lpt-from as before."""
    _write_prev(tmp_path)

    def script(i, measured):
        return (10.0 + i * 0.1, dict(CLEAN))

    out, calls, _ = _run_orchestrate(
        bench, monkeypatch, tmp_path, capsys, script
    )
    assert calls == [True, False, False]
    assert out["detail_trial"] == 1
    assert out["detail_trial_wall"] == 10.0
    assert "detail_degraded" not in out
    assert out["detail_vs_prev_ratio"] == pytest.approx(1.04)


def test_degraded_trial1_remeasured(
    bench, monkeypatch, tmp_path, capsys
):
    """Trial 1 shows the ×1.3+ signature → trial 2 re-measures the
    sequential detail (no --lpt-from) and its CLEAN array ships,
    provenance-flagged; the detail file holds the clean map."""
    _write_prev(tmp_path)

    def script(i, measured):
        if i == 0:
            return 15.0, dict(DEGRADED)
        return (9.4 if i == 1 else 9.5), dict(CLEAN)

    out, calls, detail_file = _run_orchestrate(
        bench, monkeypatch, tmp_path, capsys, script
    )
    assert calls == [True, True, False]
    assert out["detail_trial"] == 2
    assert out["detail_trial_wall"] == 9.4
    assert "detail_degraded" not in out
    got = json.load(open(detail_file))["queries"]
    assert got == CLEAN


def test_all_detail_degraded_flagged_and_reference_preserved(
    bench, monkeypatch, tmp_path, capsys
):
    """Both measured details carry the signature → re-measure happens
    ONCE (bounded cost), the summary says detail_degraded, and the
    previous round's clean reference file is NOT overwritten with
    weather."""
    _write_prev(tmp_path)

    def script(i, measured):
        return 15.0 + i * 0.1, dict(DEGRADED)

    out, calls, detail_file = _run_orchestrate(
        bench, monkeypatch, tmp_path, capsys, script
    )
    assert calls == [True, True, False]
    assert out["detail_degraded"] is True
    assert out["detail_trial"] == 1  # best wall among measured
    got = json.load(open(detail_file))["queries"]
    assert got == PREV  # clean reference survived


def test_no_previous_detail_no_remeasure(
    bench, monkeypatch, tmp_path, capsys
):
    """First round (no reference file): the ratio is incomparable, so
    no re-measure fires and the detail still ships from trial 1."""

    def script(i, measured):
        return 10.0 + i, dict(DEGRADED)

    out, calls, _ = _run_orchestrate(
        bench, monkeypatch, tmp_path, capsys, script
    )
    assert calls == [True, False, False]
    assert out["detail_trial"] == 1
    assert "detail_vs_prev_ratio" not in out


def test_degraded_detail_with_best_wall_not_shipped(
    bench, monkeypatch, tmp_path, capsys
):
    """A trial can post the BEST concurrent wall while its sequential
    detail hit the steal window (the passes are minutes apart).
    Selection must filter on the detail's own degraded signature
    FIRST and only then take the best wall — here trial 1 has the
    best wall (9.0) but a degraded detail, trial 2 re-measured clean
    at a worse wall (9.5): the clean array must ship."""
    _write_prev(tmp_path)

    def script(i, measured):
        if i == 0:
            return 9.0, dict(DEGRADED)
        return (9.5 if i == 1 else 9.6), dict(CLEAN)

    out, calls, detail_file = _run_orchestrate(
        bench, monkeypatch, tmp_path, capsys, script
    )
    assert calls == [True, True, False]
    assert out["detail_trial"] == 2
    assert out["detail_trial_wall"] == 9.5
    assert "detail_degraded" not in out
    got = json.load(open(detail_file))["queries"]
    assert got == CLEAN


def test_lpt_order_refreshed_after_remeasure(
    bench, monkeypatch, tmp_path, capsys
):
    """After a trial-2 re-measure, trial 3's --lpt-from file must
    carry the CLEAN timings (degraded inflation is non-uniform, so a
    stale order mis-ranks the longest queries and stretches the
    makespan)."""
    _write_prev(tmp_path)
    seen_lpt = {}

    real_open = open

    def script(i, measured):
        if i == 0:
            return 15.0, dict(DEGRADED)
        return 9.4, dict(CLEAN)

    calls = []

    def fake_run(argv, stdout=None, text=None):
        i = len(calls)
        measured = not any(a.startswith("--lpt-from=") for a in argv)
        calls.append(measured)
        for a in argv:
            if a.startswith("--lpt-from="):
                with real_open(a.split("=", 1)[1]) as fh:
                    seen_lpt[i] = json.load(fh)
        wall, queries = script(i, measured)
        out = json.dumps(_payload(wall, queries, measured))
        import types as _t

        return _t.SimpleNamespace(returncode=0, stdout=out + "\n")

    monkeypatch.setenv(
        "SPARK_GRAFT_BENCH_DETAIL_FILE", str(tmp_path / "DETAIL.json")
    )
    monkeypatch.setenv("SPARK_GRAFT_BENCH_TRIALS", "3")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_BUDGET_S", "10000")
    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    bench.orchestrate()
    capsys.readouterr()
    assert calls == [True, True, False]
    assert seen_lpt[2] == CLEAN  # trial 3 got the refreshed order
