"""Benchmark entry point.

    python3 perfbench/run.py --workload warm_store --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds a synthetic corpus, starts a Spark
session on ``local[nproc]`` through the engine's session factory, runs
the workload, checks the outputs and prints one JSON object as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, their times scaled to the
host's speed as measured by reference jobs in the same run (see
``workloads.py``); ``--trace 1`` the per-layer metrics of a traced run
(spans go to ``.perfbench/trace-<workload>-<seed>.jsonl``). The line
before it holds the latency sample count and supported percentiles,
each pass's unscaled wall and reference time, and named per-query
records. Everything the run writes stays under
``.perfbench/`` in the working directory; its scratch part is removed
on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "prueba_tecnica_analista_etl_spark"
# A run must end well inside the caller's 180 s limit even if a stream
# or a job hangs.
DEADLINE_S = 170
DRIVER_MEMORY = "2g"
# A run lives under a minute, all of it inside the JVM's warm-up. With
# the second-tier compiler on, when hot methods get recompiled varies
# from run to run and moved pass times by 15-20% between identical runs
# on a 4-core box; first-tier compilation only kept them within 5%.
# Without the second tier the JVM reserves a smaller code cache, which
# Spark's generated code fills within a run; the JVM then stops
# compiling, so the cache gets the tiered default size back.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str, cpus: int) -> None:
    """Point every scratch location at ``work`` before Spark or the
    engine is imported."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    # q_lsh_recall bakes its oracle at import time from this knob; left
    # unset, the engine and the oracle both use the exact census.
    os.environ.pop("SPARK_GRAFT_LSH_TRUTH_FRACTION", None)


def _start_spark(work: str):
    from prueba_tecnica_analista_etl_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # No hsperfdata file in /tmp: the run writes only inside its
            # working directory.
            "spark.driver.extraJavaOptions": f"{JIT_OPTIONS} -XX:-UsePerfData "
            + "-Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _watchdog(get_proc) -> None:
    def fire() -> None:
        print(f"perfbench: no result after {DEADLINE_S} s, aborting", file=sys.stderr)
        proc = get_proc()
        if proc is not None:
            proc.kill()
        os._exit(3)

    timer = threading.Timer(DEADLINE_S, fire)
    timer.daemon = True
    timer.start()


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # Only the result lines go to stdout: the JVM and its Python workers
    # inherit fd 1, so point it at stderr and keep the real stdout apart.
    result_out = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)
    out_dir = os.path.join(root, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=out_dir)
    cpus = len(os.sched_getaffinity(0))
    _isolate(work, cpus)
    spark = None
    state: dict = {}
    _watchdog(lambda: state.get("proc"))
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work)
        from pyspark import SparkContext

        state["proc"] = getattr(SparkContext._gateway, "proc", None)
        tracer = Tracer()
        streams = None
        if args.trace:
            import layers

            layers.install_artifact_probes(tracer)
            layers.install_pipeline_probes(tracer, spark)
            streams = layers.StreamProbe(tracer)
            streams.install()
        ctx = workloads.Ctx(
            spark=spark,
            work=work,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            cpus=cpus,
            tracer=tracer,
            streams=streams,
        )
        ctx.setup_s = time.perf_counter() - t0
        workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            metrics = workloads.per_layer(ctx)
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = workloads.end_to_end(ctx)
        records = workloads.per_query(ctx)
        summary = workloads.latency_summary(ctx)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    units = workloads.UNITS
    for failure in ctx.outcomes.failures[:20]:
        print(f"perfbench: failed {failure}", file=sys.stderr)
    print(json.dumps({"latency": summary, "per_query": records}), file=result_out)
    print(
        json.dumps(
            {
                "correct": ctx.outcomes.failed == 0,
                "attempted": ctx.outcomes.attempted,
                "failed": ctx.outcomes.failed,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        ),
        file=result_out,
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
