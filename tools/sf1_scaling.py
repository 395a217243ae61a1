#!/usr/bin/env python
"""Core-count scaling spot-check at sf1.

At sf0.1 every 8c/32c ratio is ~1.0 because scheduler + plan
construction dominate; this runs a subset of compute/shuffle-bound
queries against the 10x synthetic corpus (tools/make_sf1.py) at
the CURRENT $SPARK_GRAFT_CPUS and prints per-query medians, so two
invocations (SPARK_GRAFT_CPUS=32 / =8) give the scaling table.

Usage: SPARK_GRAFT_CPUS=32 python tools/sf1_scaling.py [sf_dir]
"""
from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata_synth/sf1"

# Compute/shuffle-bound picks; deliberately NO pair-frame/minhash
# queries (their one-time sf1 artifact builds would dwarf the
# steady-state measurement this check is about).
QUERIES = [
    "q_doc_fingerprint",
    "q_hypertable_quantiles",
    "q_sort_limit",
    "q_similarity_topk",
    "q_winsorize",
    "q_global_rank",
    "q_eval_auc_daily",
    "q_token_count",
    "q_snapshot_diff",
    "q_local_supplier_revenue",
    "q_sessionize_batch",
    "q_dup_spans",
]

from prueba_tecnica_analista_etl_spark.plans import REGISTRY  # noqa: E402
from prueba_tecnica_analista_etl_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="sf1-scaling")
spark.sparkContext.setLogLevel("ERROR")
cpus = os.environ.get("SPARK_GRAFT_CPUS", "?")

import gc  # noqa: E402

for n in QUERIES:  # warm-up: JIT + one-time artifact builds
    REGISTRY[n].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

out = {}
for n in QUERIES:
    ts = []
    for _ in range(3):
        gc.collect()
        t0 = time.perf_counter()
        REGISTRY[n].fn(spark, SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    out[n] = round(statistics.median(ts), 3)
    print(f"cpus={cpus} {n:26s} med={out[n]:6.3f} "
          f"all={[round(t, 3) for t in ts]}", flush=True)

import json  # noqa: E402

print(json.dumps({"cpus": cpus, "sf_dir": SF_DIR, "med": out}))
spark.stop()
