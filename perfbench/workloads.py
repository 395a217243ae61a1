"""The workloads and the per-layer roll-up of a traced run.

Every workload runs in one process on ``local[nproc]``: set-up, then
timed passes, then a correctness check outside the timed region. A
timed pass runs its queue of operations (registry queries, and for the
cold store ``pretrain_run``) one after another from a single client, a
closed loop. On a 4-core VM, with nproc clients the pass walls of one
run spread by 21% (quartile distance over median); with one client,
the median pass walls of five runs spread by 6%.

Before each operation, and after the last, a pass runs reference jobs
(``layers.reference_job``): Spark work of the workload's shape that
runs no engine code. On a shared host such work slows by up to 2x for
minutes at a time, with the host's load, while the program is the same.
Each pass's wall is scaled by ``REF_S`` over the median of its
reference jobs, and set-up by that of the whole run, so times read as seconds on
a host where one reference job takes ``REF_S`` and the host's drift
cancels. The detail line keeps the unscaled figures. In a traced run,
passes alternate untraced and traced, so the run also reports the
tracing overhead.

The operation sets are small on purpose: a run must stay near a minute,
so that the dozens of runs a comparison of two commits needs fit a
fixed time budget.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import statistics
import threading
import time
from collections import deque
from dataclasses import dataclass, field

import corpus
import layers
from spans import Tracer
from stats import Outcomes, host_scale, percentile, self_times, supports_percentile, verdict

SCALE = 0.01  # 60k lineitem rows, 15k orders, 10k events, 500 docs
PIPELINE = "pretrain_run"  # the pipeline op, queued like a query
# The unit every time metric is scaled to: about what one reference job
# takes between warm queries on a 4-core Xeon VM.
REF_S = 0.1

# Served from a filled store: queries reading census or frame
# artifacts, a stream resuming from its sink, and relational queries
# that touch no artifact.
WARM_QUERIES = [
    "q_bloom_semi_join",
    "q_global_rank",
    "q_heavy_hitters",
    "q_minhash_dedup",
    "q_contamination",
    "q_stream_sessionize",
    "q_inner_join",
    "q_groupby_rollup",
]
# Run against an empty store: the pipeline builds its dedup and span
# artifacts. The registry's artifact builders run in the warm store's
# set-up, which setup_s times.
COLD_OPS = [PIPELINE]

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "store_mb": "MB",
}
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_share": "ratio",
    "plans.eager_jobs": "count",
    "catalyst.plan_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.core_busy_frac": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "artifacts.calls": "count",
    "artifacts.hits": "count",
    "artifacts.builds": "count",
    "artifacts.hit_ratio": "ratio",
    "artifacts.build_s": "s",
    "artifacts.serve_s": "s",
    "streaming.build_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "pipelines.curate_s": "s",
    "pipelines.semantic_purge_s": "s",
    "pipelines.decontaminate_s": "s",
    "sources.export_s": "s",
    "sources.verify_s": "s",
    "sources.export_mb": "MB",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
    "trace.spans": "count",
    "host.ref_s": "s",
}
UNITS = {**END_TO_END, **PER_LAYER}


@dataclass
class Pass:
    wall: float
    traced: bool
    ref: list[float] = field(default_factory=list)  # reference job seconds
    paused: float = 0.0  # seconds of reference jobs inside operations
    latency: list[tuple[str, float]] = field(default_factory=list)
    groups: dict[str, str] = field(default_factory=dict)  # job group -> layer
    streams: dict[str, tuple[int, float]] = field(default_factory=dict)
    out_dirs: list[str] = field(default_factory=list)
    export_mb: float = 0.0


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    cpus: int
    tracer: Tracer
    streams: layers.StreamProbe | None
    outcomes: Outcomes = field(default_factory=Outcomes)
    passes: list[Pass] = field(default_factory=list)
    setup_s: float = 0.0
    store_dir: str = ""
    ref: object = None  # the reference job's session
    live: Pass | None = None  # the pass running now

    def reference(self) -> float:
        if self.ref is None:
            self.ref = layers.reference_session(self.spark)
        return layers.reference_job(self.ref)


def _set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


def _run_pipeline(ctx: Ctx, spark, sf_dir: str, op: str, p: Pass) -> None:
    from prueba_tecnica_analista_etl_spark.pipelines.pretrain import pretrain_run

    out_dir = os.path.join(ctx.work, "out-" + op.replace("#", "-"))
    if p.traced:
        _set_group(spark, f"{op}|run")
        p.groups[f"{op}|"] = "exec"  # every job of the run, all stages
    p.out_dirs.append(out_dir)
    with ctx.tracer.span("pipeline", op=op):
        ledger = pretrain_run(spark, sf_dir, out_dir)
    if p.traced:
        _set_group(spark, None)
    if not ledger.get("invariants_ok"):
        raise AssertionError("pretrain_run did not report invariants_ok")


def _run_query(ctx: Ctx, spark, name: str, sf_dir: str, op: str, p: Pass) -> None:
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY

    fn, tracer = REGISTRY[name].fn, ctx.tracer
    if not p.traced:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return
    with tracer.span("query", op=op, query=name):
        _set_group(spark, f"{op}|build")
        p.groups[f"{op}|build"] = "build"
        with tracer.span("build"):
            df = fn(spark, sf_dir)
        with tracer.span("plan") as sp:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            sp.attrs.update(layers.catalyst_phases(qe))
        _set_group(spark, f"{op}|exec")
        p.groups[f"{op}|exec"] = "exec"
        with tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()
    _set_group(spark, None)


def _run_op(ctx: Ctx, session, name: str, sf_dir: str, op: str, p: Pass) -> None:
    """Run one operation; record its outcome and, if it ran, its latency
    less the reference jobs run inside it."""
    t0, paused = time.perf_counter(), p.paused
    try:
        if name == PIPELINE:
            _run_pipeline(ctx, session, sf_dir, op, p)
        else:
            _run_query(ctx, session, name, sf_dir, op, p)
    except Exception as exc:
        ctx.outcomes.record(name, False, repr(exc)[:300])
        return
    p.latency.append((name, time.perf_counter() - t0 - (p.paused - paused)))
    ctx.outcomes.record(name, True)


def _finish(p: Pass) -> Pass:
    for out_dir in p.out_dirs:
        p.export_mb += layers.dir_mb(os.path.join(out_dir, "train_shards"))
        shutil.rmtree(out_dir, ignore_errors=True)
    return p


def run_pass(ctx: Ctx, names: list[str], sf_dir: str, traced: bool, refs: int = 1) -> Pass:
    """One timed pass: a single client runs the operations in order,
    ``refs`` reference jobs before each and after the last. The pass
    wall is the sum of operation latencies. Each pass runs in a new
    session on the shared SparkContext, as a new client would, so store
    reads pay their per-session cost in every pass."""
    p = Pass(wall=0.0, traced=traced)
    session = ctx.spark.newSession()
    ctx.live = p
    for k, name in enumerate(names):
        p.ref += [ctx.reference() for _ in range(refs)]
        _run_op(ctx, session, name, sf_dir, f"{name}#{len(ctx.passes)}.{k}", p)
    p.ref += [ctx.reference() for _ in range(refs)]
    ctx.live = None
    p.wall = sum(v for _, v in p.latency)
    return _finish(p)


def fill_pass(ctx: Ctx, names: list[str], sf_dir: str) -> None:
    """Set-up pass: ctx.cpus client threads share one queue and run
    every operation once, untraced; its time counts as set-up."""
    p = Pass(wall=0.0, traced=False)
    session = ctx.spark.newSession()
    queue = deque(enumerate(names))

    def client() -> None:
        while True:
            try:
                k, name = queue.popleft()
            except IndexError:
                return
            _run_op(ctx, session, name, sf_dir, f"{name}#fill.{k}", p)

    threads = [threading.Thread(target=client) for _ in range(ctx.cpus)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    _finish(p)


def timed_loop(ctx: Ctx, one_pass, passes: int | None = None, before=None) -> None:
    """Run passes until ctx.seconds of pass time have elapsed, or
    exactly ``passes`` passes. A traced run alternates untraced and
    traced passes, starting untraced, and runs at least three.
    ``before(i)`` prepares pass i outside the timed region."""
    spent, i = 0.0, 0
    while (spent < ctx.seconds if passes is None else i < passes) or (ctx.trace and i < 3):
        traced = ctx.trace and i % 2 == 1
        if before is not None:
            before(i)
        gc.collect()
        ctx.tracer.pass_no = len(ctx.passes)
        ctx.tracer.enabled = traced
        p = one_pass(traced)
        ctx.tracer.enabled = False
        if traced and ctx.streams is not None:
            p.streams = ctx.streams.drain()
        ctx.passes.append(p)
        spent += p.wall
        i += 1


def check_queries(ctx: Ctx, names: list[str], sf_dir: str) -> None:
    """Compare each query with its DuckDB oracle, or require rows where
    the query has none; outside the timed region."""
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY
    from tests.oracle_harness import compare, duckdb_con

    con = duckdb_con(sf_dir)
    queue = deque(names)
    lock = threading.Lock()

    def client() -> None:
        with lock:
            cur = con.cursor()
        while True:
            try:
                name = queue.popleft()
            except IndexError:
                return
            spec = REGISTRY[name]
            try:
                df = spec.fn(ctx.spark, sf_dir)
                ok, detail = verdict(spec.oracle, df, cur, compare)
            except Exception as exc:
                ok, detail = False, repr(exc)[:300]
            with lock:
                ctx.outcomes.record(f"check:{name}", ok, detail)

    threads = [threading.Thread(target=client) for _ in range(ctx.cpus)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    con.close()


def warm_store(ctx: Ctx) -> None:
    """Set-up fills the store with one concurrent pass, which also
    warms the JIT; timed passes only read the store, in an order the
    seed shuffles."""
    t0 = time.perf_counter()
    sf_dir = os.path.join(ctx.work, "corpus")
    corpus.generate(sf_dir, SCALE)
    ctx.store_dir = os.environ["PTAE_ARTIFACT_DIR"] = os.path.join(ctx.work, "store")
    rng = random.Random(ctx.seed)

    def queue() -> list[str]:
        names = list(WARM_QUERIES)
        rng.shuffle(names)
        return names

    fill_pass(ctx, queue(), sf_dir)
    ctx.setup_s += time.perf_counter() - t0
    ctx.reference()  # its own warm-up
    timed_loop(ctx, lambda traced: run_pass(ctx, queue(), sf_dir, traced))
    check_queries(ctx, WARM_QUERIES, sf_dir)


def cold_store(ctx: Ctx) -> None:
    """The first run on a new corpus in a new process: one pass on a
    fresh copy of the corpus under a new path with an empty store, so
    each artifact is built inside the pass, and the pass is the
    process's first call of each operation. Only the reference job runs
    before it, six times, so that its own JIT warm-up is over. The pass
    is one long operation, so an untimed pair of reference jobs also
    runs before each stage of pretrain_run. A pass lasts longer than a
    run measures, so a run times one pass. A traced run times two more,
    on fresh copies, traced then untraced: its layer figures and tracing
    overhead are those of a warm JIT. pretrain_run checks its own output
    (``invariants_ok``), and the seed does not apply here."""
    base = os.path.join(ctx.work, "corpus")
    state = {"sf_dir": ""}

    def before(i: int) -> None:
        if state["sf_dir"]:
            shutil.rmtree(state["sf_dir"], ignore_errors=True)
            shutil.rmtree(ctx.store_dir, ignore_errors=True)
        state["sf_dir"] = os.path.join(ctx.work, f"corpus-{i}")
        shutil.copytree(base, state["sf_dir"])
        ctx.store_dir = os.environ["PTAE_ARTIFACT_DIR"] = os.path.join(
            ctx.work, f"store-{i}"
        )

    def stage_refs() -> None:
        p = ctx.live
        if p is not None and not p.traced:
            t0 = time.perf_counter()
            p.ref += [ctx.reference() for _ in range(2)]
            p.paused += time.perf_counter() - t0

    layers.install_stage_hook(stage_refs)
    t0 = time.perf_counter()
    corpus.generate(base, SCALE)
    ctx.setup_s += time.perf_counter() - t0
    for _ in range(6):
        ctx.reference()
    timed_loop(
        ctx, lambda traced: run_pass(ctx, COLD_OPS, state["sf_dir"], traced, refs=3), 1, before
    )


WORKLOADS = {"warm_store": warm_store, "cold_store": cold_store}


# ------------------------------------------------------------- roll-up


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _untraced(ctx: Ctx) -> list[Pass]:
    return [p for p in ctx.passes if not p.traced]


def end_to_end(ctx: Ctx) -> dict[str, float]:
    """Time metrics scaled to REF_S: each pass by its own reference
    jobs, set-up by those of the whole run."""
    untraced = _untraced(ctx)
    return {
        "setup_s": ctx.setup_s * host_scale([r for p in untraced for r in p.ref], REF_S),
        "wall_s": _median([p.wall * host_scale(p.ref, REF_S) for p in untraced]),
        "store_mb": layers.dir_mb(ctx.store_dir),
    }


def _group_jobs(ctx: Ctx, p: Pass) -> dict[str, list[tuple[int, list[int]]]]:
    """Jobs per layer of one pass; a group key ending in '|' matches
    every group with that prefix (all stages of a pipeline run)."""
    out: dict[str, list] = {"build": [], "exec": []}
    for group, layer in p.groups.items():
        names = [group]
        if group.endswith("|"):
            names = [f"{group}run"] + [
                f"{group}{stage}" for stage in layers.PIPELINE_STAGES.values()
            ]
        for g in names:
            out[layer] += layers.jobs_of_group(ctx.spark, g)
    return out


def per_layer(ctx: Ctx) -> dict[str, float]:
    layers.wait_listener_bus(ctx.spark)
    stages = layers.stage_metrics(ctx.spark)
    traced = [p for p in ctx.passes if p.traced]
    untraced = _untraced(ctx)
    rows = []
    for p in traced:
        pass_no = ctx.passes.index(p)
        spans = [s for s in ctx.tracer.spans if s.attrs.get("pass") == pass_no]
        self_t = self_times(spans)
        by = {}
        for s in spans:
            by.setdefault(s.name, []).append(s)

        def dur(name: str) -> float:
            return sum(s.duration for s in by.get(name, []))

        def self_of(name: str) -> float:
            return sum(self_t[s.sid] for s in by.get(name, []))

        jobs = _group_jobs(ctx, p)
        exec_stages = [
            stages[sid] for _, sids in jobs["exec"] for sid in sids if sid in stages
        ]
        arts = by.get("artifact", [])
        built = [s for s in arts if s.attrs.get("built")]
        roots = by.get("query", []) + by.get("pipeline", [])
        root_s = sum(s.duration for s in roots)
        task_s = sum(s["task_s"] for s in exec_stages)
        stream_ops = {s.op for s in by.get("query", []) if s.attrs["query"].startswith("q_stream_")}
        row = {
            "plans.build_s": self_of("build"),
            "plans.build_share": dur("build") / root_s if root_s else 0.0,
            "plans.eager_jobs": len(jobs["build"]),
            "catalyst.plan_s": dur("plan"),
            "catalyst.analysis_s": sum(s.attrs.get("analysis", 0) for s in by.get("plan", [])),
            "catalyst.optimization_s": sum(
                s.attrs.get("optimization", 0) for s in by.get("plan", [])
            ),
            "catalyst.planning_s": sum(s.attrs.get("planning", 0) for s in by.get("plan", [])),
            "exec.s": dur("exec") + dur("pipeline"),
            "exec.jobs": len(jobs["exec"]),
            "exec.stages": len(exec_stages),
            "exec.tasks": sum(s["tasks"] for s in exec_stages),
            "exec.task_s": task_s,
            "exec.core_busy_frac": task_s / (p.wall * ctx.cpus) if p.wall else 0.0,
            "exec.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in exec_stages),
            "exec.shuffle_read_mb": sum(s["shuffle_read_mb"] for s in exec_stages),
            "exec.spill_mb": sum(s["spill_mb"] for s in exec_stages),
            "artifacts.calls": len(arts),
            "artifacts.hits": len(arts) - len(built),
            "artifacts.builds": len(built),
            "artifacts.hit_ratio": (len(arts) - len(built)) / len(arts) if arts else 0.0,
            "artifacts.build_s": self_of("artifact.build"),
            "artifacts.serve_s": sum(s.duration for s in arts if not s.attrs.get("built")),
            "streaming.build_s": sum(
                s.duration for s in by.get("build", []) if s.op in stream_ops
            ),
            "streaming.batches": sum(b for b, _ in p.streams.values()),
            "streaming.batch_s": sum(t for _, t in p.streams.values()),
            "pipelines.curate_s": dur("pipelines.curate"),
            "pipelines.semantic_purge_s": dur("pipelines.semantic_purge"),
            "pipelines.decontaminate_s": dur("pipelines.decontaminate"),
            "sources.export_s": dur("sources.export"),
            "sources.verify_s": dur("sources.verify"),
            "sources.export_mb": p.export_mb,
            "trace.coverage": 1 - sum(self_t[s.sid] for s in roots) / root_s if root_s else 0.0,
            "trace.spans": len(spans),
        }
        rows.append(row)
    out = {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}
    # The first pass carries one-time costs (in the cold store, the
    # process's first call of every operation), so it is left out of the
    # untraced side.
    out["trace.overhead_s"] = _median([p.wall for p in traced]) - _median(
        [p.wall for p in untraced[1:]]
    )
    out["host.ref_s"] = statistics.median(r for p in ctx.passes for r in p.ref)
    return {k: out[k] for k in PER_LAYER}


def latency_summary(ctx: Ctx) -> dict:
    """Sample count, the median and higher percentiles the untraced
    latency samples support under the ten-beyond rule, and each pass's
    unscaled wall and mean reference-job time."""
    lat = [v for p in _untraced(ctx) for _, v in p.latency]
    out: dict = {"n": len(lat)}
    for pct in (50, 90, 99):
        if supports_percentile(len(lat), pct):
            out[f"p{pct}_s"] = percentile(lat, pct)
    out["setup_raw_s"] = ctx.setup_s
    out["passes"] = [
        {"traced": p.traced, "wall_raw_s": p.wall, "ref_s": statistics.median(p.ref)}
        for p in ctx.passes
    ]
    return out


def per_query(ctx: Ctx) -> dict[str, dict[str, float]]:
    """Named per-operation records: median latency over untraced
    passes, and in a traced run the median traced latency and its
    build/plan/execute/artifact self times per query."""
    recs: dict[str, dict[str, list[float]]] = {}
    for p in ctx.passes:
        if not p.traced:
            for name, v in p.latency:
                recs.setdefault(name, {}).setdefault("latency_s", []).append(v)
    self_t = self_times(ctx.tracer.spans)
    query_of = {s.op: s.attrs["query"] for s in ctx.tracer.spans if s.name == "query"}
    per_op: dict[str, dict[str, float]] = {}
    for s in ctx.tracer.spans:
        key = {"query": "traced_s", "build": "build_s", "plan": "plan_s",
               "exec": "exec_s", "artifact": "artifact_s",
               "artifact.build": "artifact_s"}.get(s.name)
        if key and s.op in query_of:
            d = per_op.setdefault(s.op, {})
            d[key] = d.get(key, 0.0) + (s.duration if key == "traced_s" else self_t[s.sid])
    for op, d in per_op.items():
        for key, v in d.items():
            recs.setdefault(query_of[op], {}).setdefault(key, []).append(v)
    return {
        name: {
            **{k: round(_median(v), 6) for k, v in sorted(r.items())},
            "n": len(r.get("latency_s", [])),
        }
        for name, r in sorted(recs.items())
    }


