"""Probes around the engine's layers, installed from outside the package.

* artifacts: every binding of the three store functions, including the
  names some modules bind at import time, is wrapped so each call opens
  an ``artifact`` span and a wrapped builder opens ``artifact.build``;
* streaming: ``DataStreamWriter.start`` is wrapped at class level, so
  streams started on any session (the stream queries use
  ``spark.newSession()``) are captured with the operation that started
  them and their progress is read after the pass;
* pipelines/sources: the stage functions ``pretrain_run`` looks up at
  call time are wrapped in spans;
* Spark jobs: each phase runs under its own job group, and job, stage
  and task figures are read from the SparkContext's status store.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time

from spans import Tracer

ARTIFACT_FUNCS = {
    "corpus_artifact": ("frame", 2, 3),
    "census_artifact": ("census", 2, 3),
    "artifact_directory": ("dir", 1, 2),
}
PIPELINE_STAGES = {
    "curate_corpus": "pipelines.curate",
    "semantic_purge": "pipelines.semantic_purge",
    "decontaminate": "pipelines.decontaminate",
    "export_training_shards": "sources.export",
    "verify_training_shards": "sources.verify",
}
PACKAGE = "prueba_tecnica_analista_etl_spark"


def _artifact_wrapper(fn, tracer: Tracer, kind: str, name_at: int, build_at: int):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span("artifact", kind=kind, artifact=str(args[name_at])) as sp:
            if sp is None:
                return fn(*args, **kwargs)
            build = args[build_at]

            def traced_build(*bargs):
                sp.attrs["built"] = True
                with tracer.span("artifact.build"):
                    return build(*bargs)

            args = args[:build_at] + (traced_build,) + args[build_at + 1 :]
            return fn(*args, **kwargs)

    return wrapper


def install_artifact_probes(tracer: Tracer) -> int:
    """Wrap the store functions in ``artifacts`` and in every loaded
    package module that bound them by name; returns bindings wrapped."""
    from prueba_tecnica_analista_etl_spark import artifacts

    wrapped = 0
    for fname, (kind, name_at, build_at) in ARTIFACT_FUNCS.items():
        orig = getattr(artifacts, fname)
        probe = _artifact_wrapper(orig, tracer, kind, name_at, build_at)
        for mod in list(sys.modules.values()):
            if (
                mod is not None
                and getattr(mod, "__name__", "").startswith(PACKAGE)
                and getattr(mod, fname, None) is orig
            ):
                setattr(mod, fname, probe)
                wrapped += 1
    return wrapped


class StreamProbe:
    """Captures every StreamingQuery started while tracing, keyed by
    the operation that started it."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.started: dict[str, list] = {}
        self._lock = threading.Lock()

    def install(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig = DataStreamWriter.start
        probe = self

        @functools.wraps(orig)
        def start(writer, *args, **kwargs):
            query = orig(writer, *args, **kwargs)
            cur = probe.tracer.current() if probe.tracer.enabled else None
            if cur is not None:
                with probe._lock:
                    probe.started.setdefault(cur.op, []).append(query)
            return query

        DataStreamWriter.start = start

    def drain(self) -> dict[str, tuple[int, float]]:
        """(batches, seconds in triggers) per operation since the last
        drain."""
        with self._lock:
            started, self.started = self.started, {}
        out = {}
        for op, queries in started.items():
            batches, secs = 0, 0.0
            for q in queries:
                for prog in q.recentProgress:
                    batches += 1
                    secs += (prog.durationMs or {}).get("triggerExecution", 0) / 1000
            out[op] = (batches, secs)
        return out


def install_pipeline_probes(tracer: Tracer, spark) -> None:
    """Wrap pretrain_run's stage functions: a span per stage and the
    stage's Spark jobs under their own job group."""
    from prueba_tecnica_analista_etl_spark.pipelines import pretrain

    sc = spark.sparkContext
    for fname, span_name in PIPELINE_STAGES.items():
        orig = getattr(pretrain, fname)

        def make(orig=orig, span_name=span_name):
            @functools.wraps(orig)
            def stage(*args, **kwargs):
                with tracer.span(span_name) as sp:
                    if sp is None:
                        return orig(*args, **kwargs)
                    prev = sc.getLocalProperty("spark.jobGroup.id")
                    sc.setJobGroup(f"{sp.op}|{span_name}", span_name)
                    try:
                        return orig(*args, **kwargs)
                    finally:
                        if prev:
                            sc.setJobGroup(prev, prev)

            return stage

        setattr(pretrain, fname, make())


def install_stage_hook(hook) -> None:
    """Call ``hook()`` before each of pretrain_run's stage functions."""
    from prueba_tecnica_analista_etl_spark.pipelines import pretrain

    for fname in PIPELINE_STAGES:
        orig = getattr(pretrain, fname)

        def make(orig=orig):
            @functools.wraps(orig)
            def stage(*args, **kwargs):
                hook()
                return orig(*args, **kwargs)

            return stage

        setattr(pretrain, fname, make())


def catalyst_phases(qe) -> dict[str, float]:
    """Seconds per Catalyst phase from a QueryExecution's tracker."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000 if opt.isDefined() else 0.0
    return out


def wait_listener_bus(spark) -> None:
    """Let the status store catch up with finished jobs."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:  # not reachable on this build: fall back to a pause
        time.sleep(1.0)


def stage_metrics(spark) -> dict[int, dict[str, float]]:
    """Per stage id (latest attempt): tasks, task seconds, shuffle and
    spill bytes, read from the SparkContext's status store."""
    sc = spark.sparkContext
    jvm = sc._jvm
    cls = jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
    it = sc._jsc.sc().statusStore().store().view(cls).iterator()
    out: dict[int, dict[str, float]] = {}
    while it.hasNext():
        s = it.next().info()
        if str(s.status()) == "SKIPPED":
            continue
        out[s.stageId()] = {
            "tasks": s.numTasks(),
            "task_s": s.executorRunTime() / 1000,
            "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
            "shuffle_read_mb": s.shuffleReadBytes() / 1e6,
            "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
        }
    return out


def jobs_of_group(spark, group: str) -> list[tuple[int, list[int]]]:
    """(job id, stage ids) for every job run under ``group``."""
    tracker = spark.sparkContext.statusTracker()
    out = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        out.append((jid, list(info.stageIds) if info else []))
    return out


def reference_session(spark):
    """A session of its own for the reference job, its SQL settings
    pinned so that no engine setting reaches it."""
    ref = spark.newSession()
    ref.conf.set("spark.sql.shuffle.partitions", "1")
    ref.conf.set("spark.sql.adaptive.enabled", "false")
    return ref


def reference_job(ref) -> float:
    """Seconds for one small Spark job that runs no engine code: a
    grouped aggregate over a generated range, with one shuffle. On a
    shared host the workload's speed follows how fast the host wakes
    and runs the JVM's threads; a job of the same shape as the
    workload's measures that, where a pure compute loop does not. It
    runs one task per stage: with other processes busy on two of four
    cores, its time grew in step with the workload's, where a job with
    a task per core grew faster."""
    t0 = time.perf_counter()
    (
        ref.range(0, 200_000, 1, 1)
        .selectExpr("id % 1000 AS k", "hash(id) AS h")
        .groupBy("k")
        .agg({"h": "sum"})
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total / 1e6
