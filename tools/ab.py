#!/usr/bin/env python
"""Isolated-warm A/B timing for registry queries.

Runs the named queries in one session: one warm-up execution each,
then N alternating timed executions via the noop sink, reporting
per-query min/median. Same-session alternation is the only defensible
comparison on this VM class (verify skill: degraded-VM weather).

Usage: python tools/ab.py q_a q_b ... [--trials=5] [--sf=/root/testdata/sf0.1]
"""
from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

args = [a for a in sys.argv[1:] if not a.startswith("--")]
trials = next(
    (int(a.split("=")[1]) for a in sys.argv[1:] if a.startswith("--trials=")), 5
)
sf_dir = next(
    (a.split("=")[1] for a in sys.argv[1:] if a.startswith("--sf=")),
    "/root/testdata/sf0.1",
)

from prueba_tecnica_analista_etl_spark.plans import REGISTRY
from prueba_tecnica_analista_etl_spark.session import get_spark

spark = get_spark(app_name="ab")
spark.sparkContext.setLogLevel("ERROR")

names = args or sorted(REGISTRY)
for n in names:
    if n not in REGISTRY:
        raise SystemExit(f"unknown query: {n}")

# warm-up
for n in names:
    REGISTRY[n].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

times: dict[str, list[float]] = {n: [] for n in names}
import gc
for _ in range(trials):
    for n in names:  # alternate: weather hits all arms equally
        gc.collect()
        t0 = time.perf_counter()
        REGISTRY[n].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times[n].append(time.perf_counter() - t0)

for n in names:
    ts = times[n]
    print(
        f"{n:30} min={min(ts):6.3f} med={statistics.median(ts):6.3f} "
        f"all={[round(t, 3) for t in ts]}"
    )
spark.stop()
