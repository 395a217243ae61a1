"""Tests for the benchmark's pure code; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from stats import (  # noqa: E402
    Outcomes,
    Span,
    host_scale,
    percentile,
    self_times,
    supports_percentile,
    verdict,
)


def test_percentile_needs_ten_samples_beyond_it():
    assert supports_percentile(20, 50)
    assert not supports_percentile(19, 50)
    assert supports_percentile(100, 90)
    assert not supports_percentile(99, 90)
    with pytest.raises(ValueError):
        percentile(list(range(99)), 90)


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 90) == 90.0
    assert percentile(values, 50) == 50.0
    assert percentile(list(reversed(values)), 50) == 50.0


def _span(sid, parent, start, end, name="x"):
    return Span(sid=sid, parent=parent, op="q#0", name=name, start=start, end=end)


def test_self_time_subtracts_children():
    spans = [
        _span(1, 0, 0.0, 10.0, "query"),
        _span(2, 1, 0.0, 3.0, "build"),
        _span(3, 1, 3.0, 4.0, "plan"),
        _span(4, 1, 4.0, 9.5, "exec"),
        _span(5, 2, 1.0, 2.0, "artifact"),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[5] == pytest.approx(1.0)
    # self times of a tree add up to its root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        _span(1, 0, 0.0, 10.0),
        _span(2, 1, 1.0, 5.0),
        _span(3, 1, 4.0, 6.0),  # overlaps the first child
        _span(4, 1, 9.0, 12.0),  # runs past its parent
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 5.0 - 1.0)


class _Frame:
    def __init__(self, rows: int) -> None:
        self.rows = rows

    def count(self) -> int:
        return self.rows


def _compare_returning(**report):
    def compare(df, cursor, sql):
        return {"rowcount": (1, 1), **report}

    return compare


def test_wrong_result_counts_as_failed():
    out = Outcomes()
    good = _compare_returning(rowcount_ok=True, cols_ok=True, values_ok=True)
    wrong = _compare_returning(rowcount_ok=True, cols_ok=True, values_ok=False)
    out.record("q_a", *verdict("select 1", _Frame(1), None, good))
    out.record("q_b", *verdict("select 1", _Frame(1), None, wrong))
    out.record("q_rows_only", *verdict(None, _Frame(0), None, good))
    out.record("q_raised", False, "RuntimeError")
    assert (out.attempted, out.failed) == (4, 3)
    assert [f.split(":")[0] for f in out.failures] == ["q_b", "q_rows_only", "q_raised"]


def test_outcomes_count_every_record_from_many_threads():
    out, n_threads, n = Outcomes(), 16, 2000
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda: [out.record("q", i % 2 == 0) for i in range(n)])
            for _ in range(n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert (out.attempted, out.failed) == (n_threads * n, n_threads * n // 2)


def test_host_scale_cancels_a_uniform_slowdown():
    assert host_scale([0.2, 0.4, 0.3], 0.15) == pytest.approx(0.5)
    # one slow reference job out of five barely moves it
    assert host_scale([0.3, 0.3, 0.3, 0.31, 3.0], 0.15) == pytest.approx(0.5)
    # the same work on a host twice as slow reads the same once scaled
    fast = 3.0 * host_scale([0.15, 0.15], 0.15)
    slow = 6.0 * host_scale([0.3, 0.3], 0.15)
    assert fast == pytest.approx(slow) == pytest.approx(3.0)


def test_metric_and_workload_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.PER_LAYER


def test_corpus_is_deterministic(tmp_path):
    import corpus
    import pyarrow.parquet as pq

    a, b = tmp_path / "a", tmp_path / "b"
    rows = corpus.generate(str(a), 0.001)
    corpus.generate(str(b), 0.001)
    assert rows["documents"] == 500
    for name in rows:
        assert pq.read_table(a / f"{name}.parquet").equals(
            pq.read_table(b / f"{name}.parquet")
        )
