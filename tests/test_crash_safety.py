"""Crash safety of every directory the engine rewrites in place, and
fingerprint invalidation by the writers themselves.

Each rewrite site swaps a staged copy in for its live directory. A
crash is injected by making ``os.rename`` fail on its first or second
call inside the swap; re-entering the writer must then find the live
directory holding the complete old rows or the complete new rows, with
no staging or aside directory left behind."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark import artifacts
from prueba_tecnica_analista_etl_spark.operators.ivf_index import (
    _read_data,
    ivf_rebalance,
    ivf_write_index,
)
from prueba_tecnica_analista_etl_spark.sources.export import (
    DATA as EXPORT_DATA,
    export_training_shards,
)
from prueba_tecnica_analista_etl_spark.sources.files import (
    compact_parquet,
    compact_partitioned,
)
from prueba_tecnica_analista_etl_spark.streaming import upsert_sink
from prueba_tecnica_analista_etl_spark.streaming.replay import (
    replay_as_stream,
    write_replay_files,
)
from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
    DATA,
    foreach_batch_upsert,
    read_control,
)
from prueba_tecnica_analista_etl_spark.streaming.windows import (
    drain_available_now,
)

OLD = [(1, "a"), (2, "b"), (4, "d")]
NEW_BATCH = [(2, "B"), (3, "c")]
MERGED = [(1, "a"), (2, "B"), (3, "c"), (4, "d")]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _dirs(parent):
    return sorted(e.name for e in os.scandir(parent) if e.is_dir())


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _embeddings(spark):
    rows = [
        (i, [float((i * 7) % 5), float(i % 3), 1.0 + (i % 2)])
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


class _Site:
    """One rewrite site: ``setup`` builds the old live dir, ``write``
    runs the rewrite, ``reenter`` is what a retry does after a crash,
    ``read`` returns the live rows and ``clean`` asserts that no
    staging or aside dir is left."""

    def __init__(self, spark, root):
        self.spark, self.root = spark, root


class _Upsert(_Site):
    def setup(self):
        self.target = os.path.join(self.root, "target")
        self.process = foreach_batch_upsert(self.spark, self.target, ["k"])
        self.process(_frame(self.spark, OLD), 0)
        return _rows(self.read()), MERGED

    def write(self):
        self.process(_frame(self.spark, NEW_BATCH), 1)

    reenter = write

    def read(self):
        return self.spark.read.parquet(os.path.join(self.target, DATA))

    def clean(self):
        assert _dirs(self.target) == ["_etl_control", "data"]


class _UpsertPartitioned(_Upsert):
    def setup(self):
        self.target = os.path.join(self.root, "target")
        self.process = foreach_batch_upsert(
            self.spark, self.target, ["k"], partition_col="p"
        )
        self.process(self._batch(OLD), 0)
        return _rows(self.read()), sorted(
            (k, v, k % 2) for k, v in MERGED
        )

    def _batch(self, rows):
        return _frame(self.spark, rows).withColumn("p", F.col("k") % 2)

    def write(self):
        self.process(self._batch(NEW_BATCH), 1)

    reenter = write

    def read(self):
        return self.spark.read.parquet(
            os.path.join(self.target, DATA)
        ).select("k", "v", F.col("p").cast("long"))

    def clean(self):
        assert _dirs(self.target) == ["_etl_control", "data"]
        assert _dirs(os.path.join(self.target, DATA)) == ["p=0", "p=1"]


class _Compact(_Site):
    def setup(self):
        self.path = os.path.join(self.root, "t")
        _frame(self.spark, MERGED).repartition(4).write.parquet(self.path)
        rows = _rows(self.read())
        return rows, rows

    def write(self):
        compact_parquet(self.spark, self.path, target_bytes=1 << 30)

    reenter = write

    def read(self):
        return self.spark.read.parquet(self.path)

    def clean(self):
        assert _dirs(self.root) == ["t"]


class _CompactPartitioned(_Compact):
    def setup(self):
        self.path = os.path.join(self.root, "t")
        for _ in range(2):
            _frame(self.spark, MERGED).withColumn(
                "p", F.col("k") % 2
            ).repartition(2).write.partitionBy("p").mode("append").parquet(
                self.path
            )
        rows = _rows(self.read())
        return rows, rows

    def write(self):
        compact_partitioned(self.spark, self.path, target_bytes=1 << 30)

    reenter = write

    def clean(self):
        assert _dirs(self.root) == ["t"]
        assert _dirs(self.path) == ["p=0", "p=1"]


class _IvfRebalance(_Site):
    def setup(self):
        self.path = os.path.join(self.root, "ivf")
        ivf_write_index(_embeddings(self.spark), self.path, k=2, iters=1)
        rows = _rows(self.read())
        return rows, rows

    def write(self):
        ivf_rebalance(self.spark, self.path, k=3)

    reenter = write

    def read(self):
        return _read_data(self.spark, self.path).select("vec_id", "vector")

    def clean(self):
        assert _dirs(self.root) == ["ivf"]


class _Export(_Site):
    def setup(self):
        self.path = os.path.join(self.root, "shards")
        export_training_shards(
            _frame(self.spark, OLD), self.path, "k", n_shards=2
        )
        return _rows(self.read()), MERGED

    def write(self):
        export_training_shards(
            _frame(self.spark, MERGED), self.path, "k", n_shards=2
        )

    def reenter(self):
        # a retry that fails again before its own swap must still find
        # the previous export in place
        with pytest.raises(ValueError, match="empty frame"):
            export_training_shards(
                _frame(self.spark, []), self.path, "k", n_shards=2
            )

    def read(self):
        return self.spark.read.parquet(
            os.path.join(self.path, EXPORT_DATA)
        ).select("k", "v")

    def clean(self):
        assert _dirs(self.root) == ["shards"]
        assert _dirs(self.path) == ["_manifest", "data"]


SITES = {
    "foreach_batch_upsert": _Upsert,
    "foreach_batch_upsert_partitioned": _UpsertPartitioned,
    "compact_parquet": _Compact,
    "compact_partitioned": _CompactPartitioned,
    "ivf_rebalance": _IvfRebalance,
    "export_training_shards": _Export,
}


@pytest.mark.parametrize("crash_at", [1, 2])
@pytest.mark.parametrize("site", sorted(SITES))
def test_rewrite_survives_crash_inside_swap(
    spark, tmp_path, monkeypatch, site, crash_at
):
    s = SITES[site](spark, str(tmp_path))
    old, new = s.setup()
    real_rename = os.rename
    calls = []

    def crashing_rename(src, dst):
        calls.append(src)
        if len(calls) == crash_at:
            raise OSError(f"injected crash at rename {crash_at}")
        real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crashing_rename)
        with pytest.raises(OSError, match="injected crash"):
            s.write()

    s.reenter()
    assert _rows(s.read()) in (old, new)
    s.clean()
    # and the site still completes a clean rewrite afterwards
    s.write()
    assert _rows(s.read()) == new
    s.clean()


def test_writers_change_corpus_fingerprint(spark, tmp_path):
    """The sink swap and the IVF rebalance change the fingerprint of a
    corpus they write into, at the very next lookup."""
    corpus = str(tmp_path / "corpus")

    process = foreach_batch_upsert(spark, os.path.join(corpus, "t"), ["k"])
    process(_frame(spark, OLD), 0)
    before = artifacts._corpus_fingerprint(corpus)
    process(_frame(spark, NEW_BATCH), 1)
    assert artifacts._corpus_fingerprint(corpus) != before

    index = os.path.join(corpus, "ivf")
    ivf_write_index(_embeddings(spark), index, k=2, iters=1)
    before = artifacts._corpus_fingerprint(corpus)
    ivf_rebalance(spark, index, k=3)
    assert artifacts._corpus_fingerprint(corpus) != before


def _restart_shape(shape, stream):
    """(stream projection, sink options) of one sink shape."""
    if shape == "whole":
        return stream, dict(keys=["event_id"])
    if shape == "partitioned":
        return stream.withColumn("day", F.to_date("ts")), dict(
            keys=["event_id"], partition_col="day"
        )
    log = stream.filter(F.col("user_id").isNotNull()).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", "D")
        .otherwise("U")
        .alias("op"),
        "value",
    )
    return log, dict(
        keys=["user_id"],
        op_col="op",
        cdc_order=[F.desc("ts"), F.desc("event_id")],
    )


@pytest.mark.parametrize("shape", ["whole", "partitioned", "cdc"])
def test_sink_restart_after_swap_before_ledger(
    spark, sf_dir, tmp_path, monkeypatch, shape
):
    """A drained stream dies after a batch's data swap and before its
    ledger row; draining the same state dir again replays that batch.
    The target must equal an uninterrupted run's, with one ledger row
    per batch id."""
    landing, schema = write_replay_files(
        spark, sf_dir, "events", base_dir=str(tmp_path / "landing")
    )

    def drain(name):
        state_dir = str(tmp_path / name)
        target = os.path.join(state_dir, "target")
        stream, options = _restart_shape(
            shape, replay_as_stream(spark, landing, schema, 1)
        )
        drain_available_now(
            stream.writeStream.foreachBatch(
                foreach_batch_upsert(spark, target, **options)
            ),
            state_dir,
        )
        return target

    def data(target):
        return sorted(
            spark.read.parquet(os.path.join(target, DATA)).collect(), key=repr
        )

    def ledger_ids(target):
        return [r["batch_id"] for r in read_control(spark, target).collect()]

    clean = drain("clean")
    assert sorted(ledger_ids(clean)) == [0, 1, 2, 3]

    real_append = upsert_sink._append_ledger
    appended = []

    def crashing_append(*args):
        appended.append(args)
        if len(appended) == 2:
            raise OSError("injected crash before the ledger row")
        real_append(*args)

    with monkeypatch.context() as m:
        m.setattr(upsert_sink, "_append_ledger", crashing_append)
        with pytest.raises(StreamingQueryException, match="injected crash"):
            drain("crashed")
    assert ledger_ids(os.path.join(tmp_path, "crashed", "target")) == [0]

    crashed = drain("crashed")
    assert data(crashed) == data(clean)
    assert sorted(ledger_ids(crashed)) == [0, 1, 2, 3]
