"""Streaming semantics: batch/stream parity for tumbling windows,
sessionization sanity, idempotent foreachBatch upsert sink with control
ledger and DLQ routing (SURVEY.md §2.9)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.plans import REGISTRY
from prueba_tecnica_analista_etl_spark.sources.tables import load_table
from prueba_tecnica_analista_etl_spark.streaming.replay import (
    replay_as_stream,
    write_replay_files,
)
from prueba_tecnica_analista_etl_spark import artifacts
from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
    foreach_batch_upsert,
    foreach_batch_upsert_partitioned,
    read_control,
)
from prueba_tecnica_analista_etl_spark.streaming.windows import (
    run_available_now,
    tumbling_counts,
)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_batch_stream_parity(spark, sf_dir):
    """Tumbling aggregation agrees batch vs stream for every window the
    watermark finalized. Append mode withholds windows whose end is
    past the final watermark (= max event time with a 0s delay) — i.e.
    exactly the hour containing the last event; assert that precisely."""
    data_dir, schema = write_replay_files(spark, sf_dir, "events", 4)
    stream = replay_as_stream(spark, data_dir, schema, 1)
    got = run_available_now(tumbling_counts(stream, "0 seconds"), spark)

    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    last_hour = max_ts.strftime("%Y-%m-%d %H:00:00")
    want = (
        REGISTRY["q_tumbling_window"]
        .fn(spark, sf_dir)
        .filter(F.col("hour") < last_hour)
    )
    assert _sorted_rows(got) == _sorted_rows(want)


def test_foreach_batch_upsert_idempotent(spark, sf_dir, tmp_path):
    target = str(tmp_path / "target")
    ev = load_table(spark, sf_dir, "events")
    data_dir, schema = write_replay_files(spark, sf_dir, "events", 4)
    stream = replay_as_stream(spark, data_dir, schema, 2)
    # NOT a vacuous rule: null_user alone matches zero rows at
    # sf0.001, which would leave the DLQ branch untested; the modulus
    # rule deterministically rejects ~10% so the DLQ MUST materialize.
    process = foreach_batch_upsert(
        spark,
        target,
        ["event_id"],
        rules={
            "null_user": F.col("user_id").isNull(),
            "mod10": F.col("event_id") % 10 == 0,
        },
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    bad = ev.filter(
        F.col("user_id").isNull() | (F.col("event_id") % 10 == 0)
    )
    merged = spark.read.parquet(os.path.join(target, "data"))
    assert (
        merged.count()
        == ev.select("event_id").distinct().count()
        - bad.select("event_id").distinct().count()
    )
    # DLQ: every rejected row landed in quarantine with its reason,
    # and accept ∪ reject covers the stream (streaming form of the
    # split_rejects completeness property)
    dlq = spark.read.parquet(os.path.join(target, "_rejects"))
    assert dlq.count() == bad.count()
    assert set(
        r["reject_reason"] for r in dlq.select("reject_reason").distinct().collect()
    ) <= {"null_user", "mod10"}
    assert merged.join(
        dlq.select("event_id"), "event_id", "left_semi"
    ).count() == 0

    ctrl = read_control(spark, target)
    assert ctrl is not None
    n_batches = ctrl.count()
    assert n_batches >= 2  # maxFilesPerTrigger sliced the backlog

    # replaying an already-recorded batch is a no-op (at-least-once →
    # effectively-once)
    process(ev.limit(50), int(ctrl.agg(F.max("batch_id")).first()[0]))
    assert read_control(spark, target).count() == n_batches
    assert (
        spark.read.parquet(os.path.join(target, "data")).count()
        == merged.count()
    )


def test_foreach_batch_upsert_partitioned(spark, sf_dir, tmp_path):
    """Partition-scoped sink: correct merge, idempotent replay, and —
    the 100 TB property — untouched partitions' files are NOT rewritten
    (asserted via file path+mtime snapshots)."""
    target = str(tmp_path / "ptarget")
    data_path = os.path.join(target, "data")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )

    def files_snapshot():
        snap = {}
        for root, _, names in os.walk(data_path):
            for n in names:
                p = os.path.join(root, n)
                snap[p] = os.path.getmtime(p)
        return snap

    process = foreach_batch_upsert_partitioned(
        spark, target, ["event_id"], "day"
    )
    days = sorted(r[0] for r in ev.select("day").distinct().collect())
    assert len(days) >= 3
    # batch 0: everything; batch 1: only the first day's events, with
    # a bumped value column so the merge visibly rewrites that slice
    process(ev, 0)
    before = files_snapshot()
    touched_prefix = os.path.join(data_path, f"day={days[0]}")
    process(
        ev.filter(F.col("day") == days[0]).withColumn(
            "value", F.col("value") + 1000
        ),
        1,
    )
    after = files_snapshot()
    untouched_before = {
        p: t for p, t in before.items()
        if not p.startswith(touched_prefix)
    }
    untouched_after = {
        p: t for p, t in after.items()
        if not p.startswith(touched_prefix)
    }
    assert untouched_before == untouched_after  # no rewrite outside slice
    assert {
        p for p in after if p.startswith(touched_prefix)
    } != {p for p in before if p.startswith(touched_prefix)} or any(
        after[p] != before[p]
        for p in after
        if p.startswith(touched_prefix)
    )

    merged = spark.read.option("basePath", data_path).parquet(data_path)
    assert merged.count() == ev.select("event_id").distinct().count()
    # day-0 rows carry the bumped values (incoming keys won)
    d0 = merged.filter(F.col("day") == days[0])
    assert d0.filter(F.col("value") >= 1000).count() == d0.count()

    # replaying a recorded batch is a no-op
    ctrl = read_control(spark, target)
    n_batches = ctrl.count()
    process(ev.limit(10), 1)
    assert read_control(spark, target).count() == n_batches


def _hidden_dirs(parent):
    return sorted(
        e.name for e in os.scandir(parent)
        if e.is_dir() and e.name.startswith(".")
    )


def test_swap_recovery_restores_base(tmp_path, monkeypatch):
    """A crash between rename-aside and rename-in leaves no live dir;
    recover must restore the accumulated base instead of letting the
    replay rebuild from one micro-batch. A crash after rename-in leaves
    an aside copy that recover deletes, keeping the new live dir."""
    data = tmp_path / "data"
    data.mkdir()
    (data / "part-0.parquet").write_text("base")

    def stage(payload):
        staged = artifacts.staging(str(data))
        os.makedirs(staged)
        with open(os.path.join(staged, "part-0.parquet"), "w") as fh:
            fh.write(payload)
        return staged

    real_rename = os.rename
    calls = []

    def crash_on_second(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("injected crash before rename-in")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash_on_second)
        with pytest.raises(OSError, match="injected"):
            artifacts.replace(str(data), stage("half-merged"))
    assert not data.exists()
    assert len(_hidden_dirs(tmp_path)) == 2  # the aside + the staged
    artifacts.recover(str(data))
    assert (data / "part-0.parquet").read_text() == "base"
    assert _hidden_dirs(tmp_path) == []

    # crash after rename-in, before the aside copy is deleted
    def crash(*args, **kwargs):
        raise OSError("injected crash before the aside is deleted")

    with monkeypatch.context() as m:
        m.setattr(artifacts.shutil, "rmtree", crash)
        with pytest.raises(OSError, match="injected"):
            artifacts.replace(str(data), stage("merged"))
    assert len(_hidden_dirs(tmp_path)) == 1
    artifacts.recover(str(data))
    assert (data / "part-0.parquet").read_text() == "merged"
    assert _hidden_dirs(tmp_path) == []


def test_sessionize_rows_sane(spark, sf_dir):
    sess = REGISTRY["q_stream_sessionize"].fn(spark, sf_dir)
    rows = sess.collect()
    assert len(rows) > 0
    assert all(r["n_events"] >= 1 for r in rows)
    # sessions per user never exceed events per user
    ev = load_table(spark, sf_dir, "events")
    per_user_events = dict(
        (r["user_id"], r["cnt"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    per_user_sessions: dict[int, int] = {}
    for r in rows:
        per_user_sessions[r["user_id"]] = (
            per_user_sessions.get(r["user_id"], 0) + 1
        )
    for uid, n in per_user_sessions.items():
        assert n <= per_user_events[uid]


def test_sessionize_batch_stream_parity(spark, sf_dir):
    """Quantified parity for the sessionizer: the streamed registry
    result (oracle-exact in its finalization-margin form) must
    equal a batch session_window aggregation restricted by the SAME
    margin — sessions whose window end + 90 min <= max event time,
    i.e. last event + 2 h <= max — and the withheld complement must
    be exactly the sessions inside the margin band (the append-mode
    tail plus the margin's safety strip), at least one and at most
    the sessions of the stream's final 2.5 h."""
    got = REGISTRY["q_stream_sessionize"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("session_value"),
    )
    max_us = ev.agg(F.unix_micros(F.max("ts"))).first()[0]
    cut = F.unix_micros(F.col("w.end")) + F.lit(5_400_000_000)
    finalized = batch.filter(cut <= F.lit(max_us)).select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        "session_value",
    )
    assert _sorted_rows(got) == _sorted_rows(finalized)
    withheld = batch.filter(cut > F.lit(max_us))
    assert withheld.count() >= 1  # the tail is real: document it
    # every withheld session genuinely sits in the margin band: its
    # last event is within 2 h of the stream's end
    assert (
        withheld.filter(
            F.unix_micros(F.col("w.end")) - F.lit(1_800_000_000)
            < F.lit(max_us) - F.lit(7_200_000_000)
        ).count()
        == 0
    )


def test_multimodal_meta_deterministic(spark, sf_dir):
    a = _sorted_rows(REGISTRY["q_multimodal_meta"].fn(spark, sf_dir))
    b = _sorted_rows(REGISTRY["q_multimodal_meta"].fn(spark, sf_dir))
    assert a == b
    assert len(a) == 3  # image/audio/video buckets


def test_stream_dedupe_exactly_once(spark, sf_dir):
    """Streaming seen-id dedup: the overlapping landing
    dir re-delivers the middle 20% of event ids in a second micro-batch;
    the stateful operator must emit every id exactly once."""
    from prueba_tecnica_analista_etl_spark.streaming.replay import (
        write_overlapping_replay,
    )

    out = REGISTRY["q_stream_dedupe"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    assert out.count() == n  # exactly once
    assert out.select("event_id").distinct().count() == n

    # the overlap is real: raw landing rows exceed distinct events
    data_dir, schema = write_overlapping_replay(spark, sf_dir, "events")
    raw = spark.read.schema(schema).parquet(data_dir).count()
    assert raw > n


def test_stream_dedupe_rejects_null_or_dup_ids(spark, tmp_path):
    """q_stream_dedupe's oracle-exactness RESTS on event_id being
    unique and non-null (NULL-id rows bypass the stateful
    operator, so a NULL id in the duplicated overlap band
    would be emitted once per DELIVERY while the oracle emits it once
    per source row). The query must refuse such a corpus loudly
    instead of hash-mismatching silently."""
    import pytest

    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [
            (1, 10, "2024-01-01 00:00:00"),
            (None, 11, "2024-01-01 00:01:00"),
            (3, 12, "2024-01-01 00:02:00"),
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
        corpus + "/events.parquet"
    )
    with pytest.raises(ValueError, match="unique, non-null event_id"):
        REGISTRY["q_stream_dedupe"].fn(spark, corpus)


def test_stateful_dedupe_state_survives_restart(spark, sf_dir, tmp_path):
    """T7 hard proof: stop the stream, add an overlapping file, restart
    from the SAME checkpoint — the seen-id state must carry across the
    restart so re-delivered ids are dropped by the new process."""
    import uuid

    from prueba_tecnica_analista_etl_spark.session import (
        ensure_runtime_conf,
    )
    from prueba_tecnica_analista_etl_spark.streaming.replay import (
        replay_as_stream,
    )
    from prueba_tecnica_analista_etl_spark.streaming.stateful import (
        dedupe_stream,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def drop_file(df, name, mtime):
        tmp = str(tmp_path / f"w_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            f for f in os.listdir(tmp) if f.startswith("part-")
        )
        dst = str(landing / f"{name}.parquet")
        os.rename(os.path.join(tmp, src), dst)
        os.utime(dst, (mtime, mtime))

    def run_once():
        # memory sink can't recover a checkpoint; foreachBatch can
        s = ensure_runtime_conf(spark.newSession())
        s.conf.set("spark.sql.shuffle.partitions", "4")
        stream = replay_as_stream(s, str(landing), ev.schema, 1)
        emitted: list[int] = []
        q = (
            dedupe_stream(stream)
            .writeStream.foreachBatch(
                lambda df, bid: emitted.append(df.count())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sum(emitted)

    ids = ev.filter(F.col("event_id") < 3000)
    drop_file(ids.filter(F.col("event_id") < 2000), "f0", 1_700_000_000)
    first = run_once()
    assert first == ids.filter(F.col("event_id") < 2000).count()

    # second delivery: half re-delivered (1000..2000), half new
    drop_file(
        ids.filter(F.col("event_id") >= 1000), "f1", 1_700_000_001
    )
    second = run_once()
    fresh = ids.filter(F.col("event_id") >= 2000).count()
    assert second == fresh  # re-delivered 1000..2000 dropped by state


def test_dedupe_stream_plans_native_deduplicate(spark, tmp_path):
    """The stream dedup is the engine's own state operator: its plan
    (built, never started) carries ``StreamingDeduplicate`` and no
    Python-state node of any ``...InPandas...`` kind."""
    from prueba_tecnica_analista_etl_spark.streaming.stateful import (
        dedupe_stream,
    )

    df = spark.createDataFrame(
        [(1, 10), (None, 11)], "event_id long, user_id long"
    )
    landing = str(tmp_path / "landing")
    df.write.parquet(landing)
    stream = replay_as_stream(spark, landing, df.schema, 1)
    plan = spark._jvm.PythonSQLUtils.explainString(
        dedupe_stream(stream)._jdf.queryExecution(), "extended"
    )
    assert "StreamingDeduplicate" in plan, plan
    assert "InPandas" not in plan, plan


def test_watermark_drops_late_data(spark, tmp_path):
    """The append-mode late-data contract, proven end-to-end: an event
    arriving after the watermark has passed its window is refused and
    cannot change the already-emitted aggregate (bounded state depends
    on this — at 100 TB the state store only survives because
    finalized windows are evicted and stragglers are dropped).

    Two-watermark subtlety (verified against the micro-batch plan —
    ``StateStoreSave ... Append, <lateWm>, <evictWm>``): since Spark
    3.4, LATE-RECORD FILTERING uses the PREVIOUS batch's watermark
    while STATE EVICTION uses the current one, so a straggler landing
    in the very next batch after the advancing event is still
    admitted. The drop is only observable one batch later — hence
    three files here, with the straggler in the third."""
    import datetime as dt
    import glob
    import shutil

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m, 0)

    landing = str(tmp_path / "landing")
    os.makedirs(landing)

    def land(rows, order):
        tmp = str(tmp_path / f"stage_{order}")
        spark.createDataFrame(
            rows, "ts timestamp, event_type string"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dest = os.path.join(landing, f"{order:04d}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (1700000000 + order, 1700000000 + order))

    # Batch 0: five 10:xx events + a 13:00 event. After this batch the
    # watermark is 12:59; the [10:00,11:00) window is evicted+emitted
    # during batch 1 (eviction uses the CURRENT watermark).
    land([(ts(10, m), "x") for m in (5, 10, 20, 30, 40)]
         + [(ts(13, 0), "x")], 0)
    # Batch 1: an on-time 13:05 event. Its role: after this batch the
    # PREVIOUS-batch watermark (the late-filter one) is 12:59.
    land([(ts(13, 5), "x")], 1)
    # Batch 2: the STRAGGLER — 10:10 sits far behind the late-filter
    # watermark (12:59) and must be dropped, never re-opening the
    # already-emitted 10:00 window.
    land([(ts(10, 10), "x")], 2)

    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    name = f"late_{os.getpid()}"
    import tempfile as _tf

    q = (
        tumbling_counts(stream, watermark="1 minute")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", _tf.mkdtemp(prefix="ckpt_late_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        (r["hour"], r["event_type"]): r["cnt"]
        for r in spark.table(name).collect()
    }
    # Exactly the finalized 10:00 window with the on-time count only —
    # the straggler neither re-opened it nor produced a second row.
    assert rows == {("2024-01-01 10:00:00", "x"): 5}
    # And the state operator actually counted the refusal.
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
         if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert dropped == 1


def test_stateful_dedupe_null_ids_pass_through(spark, tmp_path):
    """NULL ids have no identity to dedup on: null-id rows pass
    through un-deduplicated (``dropDuplicates`` alone would keep only
    one of them), non-null ids still dedup exactly once."""
    from prueba_tecnica_analista_etl_spark.session import (
        ensure_runtime_conf,
    )
    from prueba_tecnica_analista_etl_spark.streaming.replay import (
        replay_as_stream,
    )
    from prueba_tecnica_analista_etl_spark.streaming.stateful import (
        dedupe_stream,
    )

    schema = "event_id long, user_id long"
    rows = [(1, 10), (1, 11), (2, 12), (None, 13), (None, 14)]
    df = spark.createDataFrame(rows, schema)

    landing = tmp_path / "landing"
    landing.mkdir()
    tmp = str(tmp_path / "w")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = next(f for f in os.listdir(tmp) if f.startswith("part-"))
    os.rename(os.path.join(tmp, src), str(landing / "f0.parquet"))

    s = ensure_runtime_conf(spark.newSession())
    s.conf.set("spark.sql.shuffle.partitions", "4")
    stream = replay_as_stream(s, str(landing), df.schema, 1)
    out: list = []
    q = (
        dedupe_stream(stream)
        .writeStream.foreachBatch(
            lambda b, bid: out.extend(b.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got_ids = sorted(
        (r["event_id"] is None, r["event_id"] or 0, r["user_id"])
        for r in out
    )
    # id=1 deduped to one row (either user 10 or 11), id=2 kept, both
    # null-id rows pass through untouched.
    assert len(out) == 4
    assert [g[0] for g in got_ids] == [False, False, True, True]
    assert {g[2] for g in got_ids if g[0]} == {13, 14}
    assert {g[1] for g in got_ids if not g[0]} == {1, 2}


@pytest.mark.parametrize("partitioned", [False, True])
def test_incremental_etl_end_to_end_resume(
    spark, sf_dir, tmp_path, partitioned
):
    """The composed §4 pipeline (T1-T8 in one callable): drain a
    landing dir in two OPERATIONAL RUNS sharing a checkpoint — run 1
    sees only half the files (then 'crashes' by finishing), run 2
    starts after more files land. Asserts the full contract: exactly
    the union of distinct accepted keys in the target (no re-merge of
    run-1 files), DLQ holds every rejected row with its reason, and
    the control ledger recorded batches from both runs. Runs both
    sink shapes: whole-target merge and the at-scale partition-scoped
    sink (transform derives the day partition from event time)."""
    import shutil

    from prueba_tecnica_analista_etl_spark.pipelines.incremental import (
        incremental_etl,
        target_frame,
    )
    from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
        read_control,
    )

    full_dir, schema = write_replay_files(spark, sf_dir, "events", 4)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    parts = sorted(
        f for f in os.listdir(full_dir) if f.startswith("part-")
    )
    assert len(parts) == 4
    rules = {"mod7": F.col("event_id") % 7 == 0}
    kw = dict(rules=rules)
    if partitioned:
        kw["partition_col"] = "day"
        kw["transform"] = lambda df: df.withColumn(
            "day", F.to_date("ts")
        )

    # run 1: two files have landed
    for f in parts[:2]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(landing, f))
    incremental_etl(
        spark, landing, schema, target, ["event_id"], ckpt, **kw
    )
    n_run1 = target_frame(spark, target).count()
    ctrl_run1 = read_control(spark, target).count()
    assert n_run1 > 0 and ctrl_run1 >= 2  # maxFilesPerTrigger=1

    # crash/restart boundary: two more files land, same checkpoint
    for f in parts[2:]:
        shutil.copy(os.path.join(full_dir, f), os.path.join(landing, f))
    incremental_etl(
        spark, landing, schema, target, ["event_id"], ckpt, **kw
    )

    ev = load_table(spark, sf_dir, "events")
    accepted = ev.filter(~(F.col("event_id") % 7 == 0))
    merged = target_frame(spark, target)
    assert (
        merged.count() == accepted.select("event_id").distinct().count()
    )
    assert merged.filter(F.col("event_id") % 7 == 0).count() == 0
    dlq = spark.read.parquet(os.path.join(target, "_rejects"))
    assert dlq.count() == ev.filter(F.col("event_id") % 7 == 0).count()
    assert dlq.filter(F.col("reject_reason") != "mod7").count() == 0
    # ledger grew in run 2 and every batch_id is unique (idempotency)
    ctrl = read_control(spark, target)
    assert ctrl.count() > ctrl_run1
    assert ctrl.count() == ctrl.select("batch_id").distinct().count()


def test_dlq_idempotent_under_inflight_replay(spark, sf_dir, tmp_path):
    """Crash window the ledger does NOT cover: the reject write landed
    but the batch's ledger row never committed. The replayed batch must
    not duplicate DLQ rows — each batch overwrites its own
    ``batch_id=<n>`` partition dir, so re-running the same (batch,
    batch_id) pair leaves the quarantine byte-identical instead of
    doubled (the failure mode of the old append write)."""
    from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
        CONTROL,
        foreach_batch_upsert,
    )

    target = str(tmp_path / "target")
    ev = load_table(spark, sf_dir, "events").limit(500)
    process = foreach_batch_upsert(
        spark,
        target,
        ["event_id"],
        rules={"mod10": F.col("event_id") % 10 == 0},
    )
    process(ev, 0)
    rej_path = os.path.join(target, "_rejects")
    dlq1 = spark.read.parquet(rej_path).count()
    assert dlq1 > 0
    data1 = spark.read.parquet(os.path.join(target, "data")).count()

    # simulate the crash: ledger row vanishes, DLQ + merge survived
    import shutil

    shutil.rmtree(os.path.join(target, CONTROL))
    process(ev, 0)  # replayed in-flight batch

    dlq2 = spark.read.parquet(rej_path)
    assert dlq2.count() == dlq1  # NOT doubled
    assert "batch_id" in dlq2.columns  # partition col surfaced
    assert (
        spark.read.parquet(os.path.join(target, "data")).count() == data1
    )


def test_dlq_migrates_legacy_flat_layout(spark, sf_dir, tmp_path):
    """A pre-partitioning _rejects dir holds flat append-mode files;
    mixing them with batch_id= dirs would break partition discovery.
    The first partitioned write must move flat files into the
    batch_id=-1 legacy bucket so the whole DLQ stays readable."""
    from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
        _write_rejects,
    )

    rej = str(tmp_path / "_rejects")
    legacy = load_table(spark, sf_dir, "events").limit(30).withColumn(
        "reject_reason", F.lit("old")
    )
    legacy.write.parquet(rej)  # old flat append layout
    fresh = load_table(spark, sf_dir, "events").limit(10).withColumn(
        "reject_reason", F.lit("new")
    )
    _write_rejects(fresh, rej, 5)

    dlq = spark.read.parquet(rej)
    assert dlq.count() == 40
    by_batch = {
        r["batch_id"]: r["n"]
        for r in dlq.groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by_batch == {-1: 30, 5: 10}


def test_partitioned_upsert_preserves_null_partition(spark, tmp_path):
    """isin() never matches NULL, but the NULL-partition dir
    (__HIVE_DEFAULT_PARTITION__) IS swapped by the sink — the base
    slice must include it explicitly or batch 2 silently erases
    batch 1's NULL-partition rows."""
    target = str(tmp_path / "t")
    process = foreach_batch_upsert_partitioned(
        spark, target, ["event_id"], "day"
    )
    schema = "event_id long, day date, value double"
    b1 = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0)], schema
    )
    b2 = spark.createDataFrame([(3, None, 3.0)], schema)
    process(b1, 0)
    process(b2, 1)
    merged = spark.read.parquet(os.path.join(target, "data"))
    assert {r["event_id"] for r in merged.collect()} == {1, 2, 3}
    # ledger counted the whole rewritten (NULL) slice
    ctrl = read_control(spark, target)
    assert ctrl.filter(F.col("batch_id") == 1).first()["filas"] == 3


def test_upsert_sink_dedupes_intra_batch_keys(spark, tmp_path):
    """An at-least-once source can double a key WITHIN one micro-batch
    (overlapping landing files batched together); the sink must enforce
    upsert()'s incoming-side uniqueness or the duplicate becomes a
    permanent double row in the target."""
    target = str(tmp_path / "t")
    process = foreach_batch_upsert(spark, target, ["event_id"])
    b = spark.createDataFrame(
        [(1, 10.0), (1, 10.0), (2, 20.0)], "event_id long, value double"
    )
    process(b, 0)
    merged = spark.read.parquet(os.path.join(target, "data"))
    assert merged.count() == 2
    assert merged.select("event_id").distinct().count() == 2
    # partitioned variant, same invariant
    target2 = str(tmp_path / "t2")
    p2 = foreach_batch_upsert_partitioned(
        spark, target2, ["event_id"], "day"
    )
    b2 = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (1, "2024-01-01", 1.0)],
        "event_id long, day string, value double",
    )
    p2(b2, 0)
    assert spark.read.parquet(os.path.join(target2, "data")).count() == 1


def test_dedupe_stream_exact_above_2_53_with_nulls(spark, tmp_path):
    """Ids above 2^53 are not float64-representable; a NULL sharing an
    Arrow chunk with them used to lift the id column to float64 and
    collapse adjacent longs. The plan-level null split keeps the
    stateful input int64, so 2^53 and 2^53+1 both survive as distinct
    and the NULL row still passes through."""
    from prueba_tecnica_analista_etl_spark.session import (
        ensure_runtime_conf,
    )
    from prueba_tecnica_analista_etl_spark.streaming.stateful import (
        dedupe_stream,
    )

    big = 1 << 53
    schema = "event_id long, user_id long"
    df = spark.createDataFrame(
        [(big, 1), (big + 1, 2), (None, 3), (big, 4)], schema
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    tmp = str(tmp_path / "w")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = next(f for f in os.listdir(tmp) if f.startswith("part-"))
    os.rename(os.path.join(tmp, src), str(landing / "f0.parquet"))

    s = ensure_runtime_conf(spark.newSession())
    s.conf.set("spark.sql.shuffle.partitions", "4")
    stream = replay_as_stream(s, str(landing), df.schema, 1)
    out: list = []
    q = (
        dedupe_stream(stream)
        .writeStream.foreachBatch(lambda b, bid: out.extend(b.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(
        (r["event_id"] is None, r["event_id"] or 0) for r in out
    )
    # big and big+1 BOTH survive (distinct), the replay of big is
    # dropped, the null row passes through
    assert ids == [(False, big), (False, big + 1), (True, 0)]


# ---------------------------------------------------------------------------
# Stream-stream join (streaming/joins.py)
# ---------------------------------------------------------------------------


def _attribution_streams(spark, sf_dir, max_files=2):
    """Click and purchase sub-streams of the events table as two
    independent file-replay sources."""
    c_dir, c_schema = write_replay_files(
        spark, sf_dir, "events", 4, where="event_type = 'click'"
    )
    p_dir, p_schema = write_replay_files(
        spark, sf_dir, "events", 4, where="event_type = 'purchase'"
    )
    return (
        replay_as_stream(spark, c_dir, c_schema, max_files),
        replay_as_stream(spark, p_dir, p_schema, max_files),
    )


def test_stream_stream_join_batch_parity(spark, sf_dir):
    """Inner stream-stream join over a finite in-order replay equals
    the batch join of the same frames under the same condition when
    the watermark delay covers the time bound (no state evicted while
    a match can still arrive)."""
    from prueba_tecnica_analista_etl_spark.streaming.joins import (
        join_event_streams,
    )

    clicks, purchases = _attribution_streams(spark, sf_dir)
    got = run_available_now(
        join_event_streams(
            clicks, purchases, within="10 minutes", watermark="10 minutes"
        ),
        spark,
    )

    ev = load_table(spark, sf_dir, "events")
    want = join_event_streams(
        ev.filter("event_type = 'click'"),
        ev.filter("event_type = 'purchase'"),
        within="10 minutes",
        watermark="10 minutes",
    )
    assert got.count() > 0
    assert _sorted_rows(got) == _sorted_rows(want)


def test_stream_stream_left_outer_extends_unmatched(spark, sf_dir):
    """Left-outer emits every click exactly once-or-more: matched rows
    equal the inner join; unmatched clicks appear null-extended once
    the watermark proves no purchase can arrive. availableNow's final
    watermark stops short of max event time, so clicks inside the
    last watermark delay may be withheld — assert containment plus
    exact agreement on the matched subset."""
    from prueba_tecnica_analista_etl_spark.streaming.joins import (
        join_event_streams,
    )

    clicks, purchases = _attribution_streams(spark, sf_dir)
    outer = run_available_now(
        join_event_streams(
            clicks,
            purchases,
            within="10 minutes",
            how="left_outer",
            watermark="10 minutes",
        ),
        spark,
    )
    matched = outer.filter(F.col("right_id").isNotNull())
    nulls = outer.filter(F.col("right_id").isNull())

    ev = load_table(spark, sf_dir, "events")
    want_inner = join_event_streams(
        ev.filter("event_type = 'click'"),
        ev.filter("event_type = 'purchase'"),
        within="10 minutes",
        watermark="10 minutes",
    )
    assert _sorted_rows(matched) == _sorted_rows(want_inner)
    # Null-extended rows must be clicks with genuinely no purchase in
    # the window (batch anti-join check), never a late-dropped match.
    want_semi_ids = {
        r[0]
        for r in want_inner.select("left_id").distinct().collect()
    }
    for r in nulls.select("left_id").collect():
        assert r[0] not in want_semi_ids
    assert nulls.count() > 0


def test_stream_stream_join_state_is_bounded(spark, sf_dir):
    """The time bound must translate into state eviction: after the
    replay, each side's buffered state is far below its total row
    count (rows leave the buffer once the watermark passes their
    ts + within). This is THE property that makes the operator safe
    on an unbounded feed."""
    import json
    import tempfile
    import uuid

    from prueba_tecnica_analista_etl_spark.streaming.joins import (
        join_event_streams,
    )

    clicks, purchases = _attribution_streams(spark, sf_dir, max_files=1)
    sdf = join_event_streams(
        clicks, purchases, within="10 minutes", watermark="10 minutes"
    )
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    spark.catalog.dropTempView(name)
    state_rows = [
        op["numRowsTotal"]
        for p in progress
        for op in p.get("stateOperators", [])
        if "symmetricHashJoin" in op.get("operatorName", "")
    ]
    assert state_rows, "no stream-stream join state operator reported"
    n_events = (
        load_table(spark, sf_dir, "events")
        .filter("event_type in ('click','purchase')")
        .count()
    )
    # Final state must hold only the tail inside the watermark+bound
    # horizon, not the whole replayed history.
    assert state_rows[-1] < n_events / 2, (state_rows, n_events)


def test_stream_static_enrichment(spark, sf_dir):
    """Stream-static join: events stream enriched with a customer
    dimension keyed on user_id — matches the batch join exactly (the
    static side is snapshot-resolved per micro-batch, no state, no
    watermark) and left rows with no dim match survive null-extended."""
    from prueba_tecnica_analista_etl_spark.streaming.joins import (
        enrich_with_dim,
    )

    data_dir, schema = write_replay_files(spark, sf_dir, "events", 4)
    stream = replay_as_stream(spark, data_dir, schema, 2)
    # Even-keyed dim only, so odd-user_id events are GUARANTEED
    # unmatched — the null-extension assertions below cannot pass
    # vacuously.
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select(
            F.col("c_custkey").alias("dim_key"),
            F.col("c_name").alias("dim_name"),
            F.col("c_nationkey").alias("dim_nation"),
        )
    )
    got = run_available_now(
        enrich_with_dim(stream, dim, {"user_id": "dim_key"}), spark
    )

    ev = load_table(spark, sf_dir, "events")
    want = enrich_with_dim(ev, dim, {"user_id": "dim_key"})
    assert got.count() == ev.count()  # left join keeps every event
    assert _sorted_rows(
        got.select("event_id", "dim_name", "dim_nation")
    ) == _sorted_rows(want.select("event_id", "dim_name", "dim_nation"))
    # both matched and unmatched sides are exercised
    assert got.filter(F.col("dim_name").isNull()).count() > 0
    assert got.filter(F.col("dim_name").isNotNull()).count() > 0


def test_cdc_apply_operator_semantics(spark):
    """cdc_apply unit semantics: update, insert, delete, delete of an
    absent key (no-op), delete-then-reinsert inside one log (last op
    wins under the order), and the idempotent fixpoint (re-applying
    the same log changes nothing)."""
    from prueba_tecnica_analista_etl_spark.operators.upsert import (
        cdc_apply,
    )

    base = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    )
    log = spark.createDataFrame(
        [
            (2, "b2", "U", 1),   # update
            (3, "c", "U", 1),    # insert
            (1, None, "D", 2),   # delete existing
            (4, None, "D", 1),   # delete absent -> no-op
            (5, None, "D", 1),   # deleted then...
            (5, "e", "U", 2),    # ...re-inserted later: U wins
        ],
        "k long, v string, op string, seq long",
    )
    order = [F.desc("seq"), F.desc("op")]
    out = cdc_apply(base, log.select("k", "v", "op", "seq"), ["k"],
                    order=order)
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {2: "b2", 3: "c", 5: "e"}

    again = cdc_apply(
        spark.createDataFrame(list(got.items()), "k long, v string"),
        log.select("k", "v", "op", "seq"),
        ["k"],
        order=order,
    )
    assert {r["k"]: r["v"] for r in again.collect()} == got


def test_streaming_cdc_sink_applies_deletes(spark, sf_dir, tmp_path):
    """The CDC mode of the foreachBatch sink: ordered change-log
    batches with delete markers materialize the right snapshot, the
    op column never reaches the target schema, intra-batch op order
    is respected (compaction keeps the newest op), and a replayed
    in-flight batch (ledger row lost) re-applies to the SAME state —
    the idempotency ledger covers CDC exactly as it covers upsert."""
    import shutil as _sh

    from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
        CONTROL,
        foreach_batch_upsert,
    )

    target = str(tmp_path / "cdc_target")
    process = foreach_batch_upsert(
        spark,
        target,
        ["k"],
        op_col="op",
        cdc_order=[F.desc("seq")],
    )

    b0 = spark.createDataFrame(
        [(1, "a", "U", 1), (2, "b", "U", 1), (3, "c", "U", 1)],
        "k long, v string, op string, seq long",
    )
    process(b0, 0)
    b1 = spark.createDataFrame(
        [
            (2, "b2", "U", 10),  # update
            (3, None, "D", 10),  # delete
            (4, "d", "U", 10),   # insert
            (4, None, "D", 11),  # ...then deleted LATER in-batch
            (5, None, "D", 10),  # deleted...
            (5, "e", "U", 11),   # ...then re-upserted later in-batch
        ],
        "k long, v string, op string, seq long",
    )
    process(b1, 1)

    snap = spark.read.parquet(os.path.join(target, "data"))
    assert "op" not in snap.columns and "seq" in snap.columns
    got = {r["k"]: r["v"] for r in snap.collect()}
    assert got == {1: "a", 2: "b2", 5: "e"}

    # crash window: ledger row for batch 1 lost, batch replayed
    _sh.rmtree(os.path.join(target, CONTROL))
    process(b0, 0)
    process(b1, 1)
    got2 = {
        r["k"]: r["v"]
        for r in spark.read.parquet(
            os.path.join(target, "data")
        ).collect()
    }
    assert got2 == got


def test_streaming_cdc_sink_first_batch_null_op(spark, tmp_path):
    """Regression: a NULL-op row arriving in the FIRST batch
    (target not born yet) must be kept as an upsert — the old
    `op != delete_value` filter evaluated NULL and silently dropped
    it, while the same row in any later batch survived via
    cdc_apply's eqNullSafe path. First-batch and later-batch
    semantics must agree."""
    from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
        foreach_batch_upsert,
    )

    target = str(tmp_path / "cdc_null_op")
    process = foreach_batch_upsert(
        spark,
        target,
        ["k"],
        op_col="op",
        cdc_order=[F.desc("seq")],
    )
    b0 = spark.createDataFrame(
        [(1, "a", None, 1), (2, "b", "U", 1), (3, None, "D", 1)],
        "k long, v string, op string, seq long",
    )
    process(b0, 0)
    snap = spark.read.parquet(os.path.join(target, "data"))
    got = {r["k"]: r["v"] for r in snap.collect()}
    assert got == {1: "a", 2: "b"}, (
        "NULL-op first-batch row must be upserted, delete dropped"
    )


def test_streaming_cdc_sink_rules_spare_delete_markers(
    spark, sf_dir, tmp_path
):
    """The reviewed failure mode: with validation rules AND CDC mode,
    delete markers (NULL payload) must NOT be quarantined by the
    rules — deletes bypass validation, rules see only the final
    non-delete op per key, and a rejected final upsert leaves its key
    untouched instead of applying a superseded older op."""
    from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
        foreach_batch_upsert,
    )

    target = str(tmp_path / "cdc_rules")
    process = foreach_batch_upsert(
        spark,
        target,
        ["k"],
        rules={"v_null": F.col("v").isNull()},
        op_col="op",
        cdc_order=[F.desc("seq")],
    )
    process(
        spark.createDataFrame(
            [(1, "a", "U", 1), (2, "b", "U", 1), (3, "c", "U", 1)],
            "k long, v string, op string, seq long",
        ),
        0,
    )
    process(
        spark.createDataFrame(
            [
                (1, None, "D", 10),   # delete: NULL v must not DLQ it
                (2, "b-old", "U", 5),  # superseded by...
                (2, None, "U", 6),     # ...an INVALID final upsert
            ],
            "k long, v string, op string, seq long",
        ),
        1,
    )

    got = {
        r["k"]: r["v"]
        for r in spark.read.parquet(
            os.path.join(target, "data")
        ).collect()
    }
    # 1 deleted (marker survived the rules), 2 untouched (its final
    # op was rejected; the stale b-old was NOT applied), 3 untouched
    assert got == {2: "b", 3: "c"}
    dlq = spark.read.parquet(os.path.join(target, "_rejects"))
    assert dlq.count() == 1
    assert dlq.first()["k"] == 2 and dlq.first()["op"] == "U"


def test_stream_cdc_apply_matches_batch_fold(spark, sf_dir):
    """The streaming CDC snapshot must agree with a batch fold of the
    same change-log semantics: live users = users whose LAST event
    (max (ts, event_id)) is not the delete marker, each carrying that
    last event's id — and the run is deterministic."""
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY

    snap = {
        r["user_id"]: r["event_id"]
        for r in REGISTRY["q_stream_cdc_apply"].fn(spark, sf_dir).collect()
    }

    last = {}
    for r in (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    ):
        k = r["user_id"]
        cand = (r["ts"], r["event_id"], r["event_type"])
        if k not in last or cand[:2] > last[k][:2]:
            last[k] = cand
    want = {
        k: eid
        for k, (_, eid, et) in last.items()
        if et != "purchase"
    }
    assert snap == want


def test_out_of_order_replay_routes_late_rows_to_dlq(
    spark, sf_dir, tmp_path
):
    """SCALE.md §3 made executable: a DISORDERED
    landing folder (arrival_order='shuffled' rotates the earliest
    range chunk to arrive LAST — a delayed upstream export landing
    after all its successors) under a tight watermark.

    (1) The native watermarked aggregation DROPS the out-of-order
    rows — strictly fewer events counted than the ordered replay of
    the identical data; that is Spark's documented contract, and the
    hazard. (2) The late_dlq_sink router applies the same watermark
    rule visibly: main ∪ DLQ is exactly the input (nothing silently
    lost), with the late rows in the DLQ. (3) A disorder-sized delay
    admits everything — the DLQ is empty and main holds the full
    table, which is the SCALE.md remediation (size the watermark to
    the observed disorder)."""
    from prueba_tecnica_analista_etl_spark.streaming.late_dlq import (
        late_dlq_sink,
        read_routed,
    )
    from prueba_tecnica_analista_etl_spark.streaming.windows import (
        run_available_now,
        tumbling_counts,
    )

    def landing(order, name):
        return write_replay_files(
            spark,
            sf_dir,
            "events",
            n_files=4,
            base_dir=str(tmp_path / name),
            arrival_order=order,
        )

    def counted(data_dir, schema):
        stream = replay_as_stream(spark, data_dir, schema, 1)
        agg = run_available_now(tumbling_counts(stream, "0 seconds"), spark)
        return agg.agg(F.coalesce(F.sum("cnt"), F.lit(0))).first()[0]

    ordered = counted(*landing("range", "ordered"))
    shuffled_dir, schema = landing("shuffled", "shuffled")
    assert counted(shuffled_dir, schema) < ordered, (
        "disordered arrival should drop late rows from the native "
        "watermarked aggregation — if not, the fixture isn't disordered"
    )

    total = load_table(spark, sf_dir, "events").count()

    def route(delay, name):
        root = str(tmp_path / name)
        q = (
            replay_as_stream(spark, shuffled_dir, schema, 1)
            .writeStream.foreachBatch(late_dlq_sink(root, delay))
            .option(
                "checkpointLocation", str(tmp_path / f"{name}_ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        main = read_routed(spark, root, "main")
        dlq = read_routed(spark, root, "dlq")
        return (
            main.count() if main is not None else 0,
            dlq.count() if dlq is not None else 0,
        )

    n_main, n_dlq = route(0.0, "tight")
    assert n_dlq > 0, "tight watermark over disorder must flag late rows"
    assert n_main + n_dlq == total, "router must conserve every input row"

    null_ts = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNull())
        .count()
    )
    n_main2, n_dlq2 = route(10.0**9, "sized")
    assert n_dlq2 == null_ts, (
        "a disorder-sized watermark admits every timestamped row; only "
        "un-watermarkable NULL event times remain in the DLQ"
    )
    assert n_main2 + n_dlq2 == total


def test_run_available_now_cached_sink_resumes_incrementally(
    spark, sf_dir, tmp_path
):
    """The state_dir path: the first invocation
    replays the landing dir into the persistent parquet sink; a second
    invocation RESUMES the checkpoint, finds no new source files, runs
    zero micro-batches — observable as the sink's file set not
    changing — and returns the identical rows, lazily (no collect in
    the registry path)."""
    from prueba_tecnica_analista_etl_spark.streaming.windows import (
        run_available_now,
        tumbling_counts,
    )

    data_dir, schema = write_replay_files(
        spark, sf_dir, "events", n_files=4,
        base_dir=str(tmp_path / "landing"),
    )
    state_dir = str(tmp_path / "sink")

    def run():
        stream = replay_as_stream(spark, data_dir, schema, 2)
        return run_available_now(
            tumbling_counts(stream, "0 seconds"), spark, state_dir=state_dir
        )

    first = run()
    out_dir = os.path.join(state_dir, "out")
    files_after_first = sorted(
        f for f in os.listdir(out_dir) if f.endswith(".parquet")
    )
    assert files_after_first, "first run must materialize the sink"
    second = run()
    files_after_second = sorted(
        f for f in os.listdir(out_dir) if f.endswith(".parquet")
    )
    assert files_after_second == files_after_first, (
        "resume with no new source files must run zero micro-batches"
    )
    assert _sorted_rows(second) == _sorted_rows(first)


def test_mg_stream_accumulator_matches_batch_heavy_hitters(
    spark, sf_dir, tmp_path
):
    """Heavy hitters over a STREAM: each
    micro-batch's per-partition Misra-Gries summaries fold into one
    capacity-bounded driver dict inside foreachBatch (the mergeable-
    summaries property across batches — the same foreachBatch-
    accumulator pattern the CDC sink proved). After the stream drains:
    (a) the accumulated candidate set is capacity-bounded,
    (b) it is a SUPERSET of every true heavy hitter at the
    n/(capacity+1) threshold,
    (c) the exact re-count of the candidates filtered at the
    threshold equals the BATCH fold's answer exactly (q_heavy_hitters'
    frequent_items path over the same table), and
    (d) a replayed batch_id is a no-op (the idempotency guard)."""
    from prueba_tecnica_analista_etl_spark.operators.sketch import (
        MGStreamAccumulator,
        frequent_items,
    )

    capacity = 8
    data_dir, schema = write_replay_files(
        spark, sf_dir, "events", n_files=4,
        base_dir=str(tmp_path / "landing"),
    )
    acc = MGStreamAccumulator("event_type", capacity=capacity)
    q = (
        replay_as_stream(spark, data_dir, schema, 1)
        .writeStream.foreachBatch(acc)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(acc._seen) > 1, "fixture must deliver several batches"
    cand = acc.candidates()
    assert 0 < len(cand) <= capacity

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("event_type")
    )
    n = ev.count()
    exact_all = {
        r["event_type"]: r["cnt"]
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    true_hh = {
        k: c for k, c in exact_all.items() if c * (capacity + 1) > n
    }
    assert set(true_hh) <= set(cand), "MG superset guarantee violated"

    streamed = {
        k: exact_all[k]
        for k in cand
        if exact_all.get(k, 0) * (capacity + 1) > n
    }
    batch = {
        r["event_type"]: r["cnt"]
        for r in frequent_items(ev, "event_type", capacity)
        .filter(F.col("cnt") * (capacity + 1) > F.lit(n))
        .collect()
    }
    assert streamed == batch == true_hh

    # replayed batch_id is a no-op
    before = dict(acc.counters)
    replay_bid = next(iter(acc._seen))
    acc(load_table(spark, sf_dir, "events"), replay_bid)
    assert acc.counters == before


def test_mg_stream_accumulator_failed_batch_can_retry(spark):
    """The ledger discipline: a batch that FAILS
    mid-processing must not be marked seen — the checkpoint replays
    it, and the retry must merge its mass (marking before the work
    silently skipped the replay, voiding the superset guarantee).
    A batch that SUCCEEDED is skipped on replay (idempotency)."""
    from prueba_tecnica_analista_etl_spark.operators.sketch import (
        MGStreamAccumulator,
    )

    acc = MGStreamAccumulator("k", capacity=4)
    bad = spark.createDataFrame([("x",)], "wrong_col string")
    try:
        acc(bad, 0)
        raise AssertionError("missing column must raise")
    except Exception:
        pass
    assert 0 not in acc._seen, "failed batch must not enter the ledger"

    good = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    acc(good, 0)  # the checkpoint's replay of batch 0
    assert 0 in acc._seen
    assert acc.counters.get("a", 0) >= acc.counters.get("b", 0) > 0

    before = dict(acc.counters)
    acc(good, 0)  # replay of a SUCCEEDED batch is a no-op
    assert acc.counters == before


def test_mg_stream_ledger_survives_kill_restart(spark, sf_dir, tmp_path):
    """Durable sketch ledger: the in-memory
    seen-set was enough for availableNow replays WITHIN a run, but a
    restarted stream re-delivers its uncommitted batch — and a fresh
    accumulator instance has lost both the seen-set and the folded
    counters. With ``ledger_dir`` the pair is persisted atomically
    after every successful fold, so across a kill/restart boundary:

    (a) the resumed instance RELOADS the pre-crash folds (their mass
        is not lost),
    (b) the checkpoint-replayed batch folds exactly once (it was never
        persisted as seen, so the resume re-folds it; a batch that WAS
        persisted is skipped even by the new instance),
    (c) candidates and the exact heavy-hitter re-count equal the
        uninterrupted single-run answer bit-for-bit."""
    from pyspark.errors.exceptions.captured import (
        StreamingQueryException,
    )

    from prueba_tecnica_analista_etl_spark.operators.sketch import (
        MGStreamAccumulator,
    )

    capacity = 8
    data_dir, schema = write_replay_files(
        spark, sf_dir, "events", n_files=4,
        base_dir=str(tmp_path / "landing"),
    )
    ledger = str(tmp_path / "ledger")
    ckpt = str(tmp_path / "ckpt")

    # --- run 1: crash before folding batch 2 -------------------------
    acc1 = MGStreamAccumulator("event_type", capacity, ledger_dir=ledger)

    def crashing(batch, batch_id):
        if batch_id >= 2:
            raise RuntimeError("injected crash")
        acc1(batch, batch_id)

    q = (
        replay_as_stream(spark, data_dir, schema, 1)
        .writeStream.foreachBatch(crashing)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        raise AssertionError("injected crash must fail the query")
    except StreamingQueryException:
        pass
    assert acc1._seen == {0, 1}

    # --- run 2: new instance (process restart), same ledger + ckpt ---
    acc2 = MGStreamAccumulator("event_type", capacity, ledger_dir=ledger)
    assert acc2._seen == {0, 1}, "persisted seen-set must reload"
    assert acc2.counters == acc1.counters, "persisted folds must reload"
    q2 = (
        replay_as_stream(spark, data_dir, schema, 1)
        .writeStream.foreachBatch(acc2)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert acc2._seen == {0, 1, 2, 3}

    # a replay of a pre-crash batch is a no-op for the NEW instance —
    # the skip decision came from the persisted ledger, not memory
    before = dict(acc2.counters)
    acc2(load_table(spark, sf_dir, "events"), 0)
    assert acc2.counters == before

    # --- control: uninterrupted single run ---------------------------
    acc_ctl = MGStreamAccumulator("event_type", capacity)
    qc = (
        replay_as_stream(spark, data_dir, schema, 1)
        .writeStream.foreachBatch(acc_ctl)
        .option("checkpointLocation", str(tmp_path / "ckpt_ctl"))
        .trigger(availableNow=True)
        .start()
    )
    qc.awaitTermination()
    assert sorted(acc2.candidates()) == sorted(acc_ctl.candidates())

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("event_type")
    )
    n = ev.count()

    def recount(cand):
        return {
            r["event_type"]: r["cnt"]
            for r in ev.filter(F.col("event_type").isin(list(cand)))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") * (capacity + 1) > F.lit(n))
            .collect()
        }

    assert recount(acc2.candidates()) == recount(acc_ctl.candidates())


def test_replay_dir_survives_bare_clear_artifacts(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A bare clear_artifacts() wipes the disk store, landing dirs
    included; the next write_replay_files must rebuild the landing dir
    rather than return the deleted path, and the stream over it must
    replay the whole table."""
    import shutil

    from prueba_tecnica_analista_etl_spark.artifacts import clear_artifacts

    monkeypatch.setenv("PTAE_ARTIFACT_DIR", str(tmp_path / "store"))
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), corpus)
    sf = str(corpus)

    first, _ = write_replay_files(spark, sf, "events", 2)
    assert os.path.isdir(first)
    clear_artifacts()
    data_dir, schema = write_replay_files(spark, sf, "events", 2)
    assert os.path.isdir(data_dir)
    out = run_available_now(replay_as_stream(spark, data_dir, schema), spark)
    assert out.count() == load_table(spark, sf, "events").count() > 0


def test_stream_queries_do_not_grow_the_listener_bus(spark, sf_dir):
    """Every stream query runs on one memoized clone per caller session:
    a fresh clone per call would add a streaming listener to the shared
    SparkContext's listener bus on each call, and none is ever
    removed."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    sessionize = REGISTRY["q_stream_sessionize"].fn
    n_rows = sessionize(spark, sf_dir).count()
    before = bus.listeners().size()
    for _ in range(3):
        assert sessionize(spark, sf_dir).count() == n_rows
    assert bus.listeners().size() == before
