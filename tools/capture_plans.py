#!/usr/bin/env python
"""Capture .explain('formatted') for every registry query.

Writes <out_dir>/<query>_<tag>.txt and a JSON summary of plan-shape
stats (Exchange count, join strategies, Python eval nodes, scans,
pushed filters) to <out_dir>/_summary_<tag>.json.

Usage: python tools/capture_plans.py <out_dir> [tag] [sf_dir]
"""
from __future__ import annotations

import io
import json
import os
import re
import sys
import contextlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

if len(sys.argv) < 2:
    raise SystemExit(__doc__)
OUT_DIR = sys.argv[1]
TAG = sys.argv[2] if len(sys.argv) > 2 else "before"
SF_DIR = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
os.makedirs(OUT_DIR, exist_ok=True)

from prueba_tecnica_analista_etl_spark.plans import REGISTRY
from prueba_tecnica_analista_etl_spark.session import get_spark

spark = get_spark(app_name="capture-plans")
spark.sparkContext.setLogLevel("ERROR")

summary = {}
for name, spec in sorted(REGISTRY.items()):
    try:
        df = spec.fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    except Exception as e:  # noqa: BLE001
        summary[name] = {"error": repr(e)}
        continue
    with open(os.path.join(OUT_DIR, f"{name}_{TAG}.txt"), "w") as fh:
        fh.write(plan)
    summary[name] = {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "reused_exchanges": len(re.findall(r"ReusedExchange", plan)),
        "single_partition": len(re.findall(r"SinglePartition", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "py_eval": len(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)", plan)),
        "scans": len(re.findall(r"Scan parquet|Scan csv|Scan orc|Scan json|FileScan", plan)),
        "windows": len(re.findall(r"\bWindow\b", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "generates": len(re.findall(r"\bGenerate\b", plan)),
        "wsc_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
        "plan_lines": plan.count("\n"),
    }

with open(os.path.join(OUT_DIR, f"_summary_{TAG}.json"), "w") as fh:
    json.dump(summary, fh, indent=1, sort_keys=True)

errs = {n: s for n, s in summary.items() if "error" in s}
print(f"captured {len(summary) - len(errs)} plans, {len(errs)} errors")
for n, s in errs.items():
    print("ERROR", n, s["error"])
spark.stop()
