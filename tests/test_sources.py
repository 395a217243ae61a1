"""Source/sink coverage: CSV round-trip (S6), comma-family reads (S3),
JDBC reader/writer construction (S7/S8 — no database in the harness, so
the assertion is that the plan builders are correctly parameterized)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.sources.csv import (
    flights_schema,
    read_csv_repaired,
    write_csv,
)
from prueba_tecnica_analista_etl_spark.sources.jdbc import (
    read_jdbc,
    write_jdbc,
)
from prueba_tecnica_analista_etl_spark.sources.tables import load_table


def test_csv_roundtrip_single_file(spark, sf_dir, tmp_path):
    """S6: header'd CSV export then re-read reproduces the data."""
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    write_csv(nation, out)
    back = (
        spark.read.option("header", True)
        .schema(nation.schema)
        .csv(out)
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, nation.collect())
    )


def test_comma_family_read(spark, tmp_path):
    """S3: ','-delimited family with header, schema-applied."""
    p = tmp_path / "f.csv"
    cols = ",".join(f"Col_{i}" for i in range(1, 20))
    p.write_text(
        "﻿" + cols + "\n" + ",".join(["x"] * 19) + "\n",
        encoding="utf-8",
    )
    df = read_csv_repaired(spark, str(p), flights_schema(), sep=",")
    assert df.count() == 1
    assert df.columns == [f"Col_{i}" for i in range(1, 20)]
    assert df.first()["Col_1"] == "x"


def test_jdbc_builders_parameterized(spark):
    r = read_jdbc(
        spark,
        "jdbc:postgresql://host/db",
        "flights",
        user="u",
        password="p",
        partition_column="id",
        num_partitions=4,
        lower_bound=0,
        upper_bound=1000,
    )
    # reader is configured, not executed (no DB in harness)
    assert r is not None
    df = spark.range(3)
    w = write_jdbc(df, "jdbc:postgresql://host/db", "t", mode="overwrite")
    assert w is not None


def test_sql_api_twin_of_inner_join(spark, sf_dir):
    """The SQL-API surface (temp views + spark.sql) produces a frame
    equal to the DataFrame version of the flagship join — the path the
    reference's SQL section corresponds to (seccion3_sql.sql runs
    everything through SQL)."""
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY

    for name in ("orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    sql_df = spark.sql(
        """
        SELECT r_name,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    )
    df_df = REGISTRY["q_inner_join"].fn(spark, sf_dir)
    assert sorted(tuple(r) for r in sql_df.collect()) == sorted(
        tuple(r) for r in df_df.collect()
    )


def test_kafka_source_builder(spark):
    """S11: the Kafka source builder either constructs the standard
    7-column streaming frame (connector present) or raises the
    actionable classpath error (harness container: no connector). The
    JSON value-lifting helper is exercised on an equivalent batch frame
    either way."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from prueba_tecnica_analista_etl_spark.sources.kafka import (
        kafka_source,
        parse_json_values,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    # value-lifting works on any kafka-shaped frame (backfill path)
    kafka_shaped = spark.createDataFrame(
        [(b'{"event_id": 7, "value": 1.5}', "t", 0, 0)],
        "value binary, topic string, partition int, offset long",
    ).withColumn("timestamp", F.current_timestamp())
    parsed = parse_json_values(kafka_shaped, schema).collect()
    assert parsed[0]["event_id"] == 7
    assert parsed[0]["value"] == 1.5

    try:
        stream = kafka_source(spark, "localhost:9092", "events")
    except RuntimeError as ex:
        assert "connector" in str(ex)
        pytest.skip("kafka connector not on classpath in harness")
    assert stream.isStreaming
    assert "value" in stream.columns


def test_json_roundtrip_with_temporals(spark, sf_dir, tmp_path):
    """JSON-lines sink → explicit-schema read reproduces orders
    including its DATE column (ISO-8601 string round-trip)."""
    from prueba_tecnica_analista_etl_spark.sources.files import (
        read_json,
        write_json,
    )

    orders = load_table(spark, sf_dir, "orders").limit(200)
    out = str(tmp_path / "orders_json")
    write_json(orders, out)
    back = read_json(spark, out, orders.schema)
    assert back.schema == orders.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, orders.collect())
    )


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC sink → scan reproduces the data AND pushes filters into the
    scan (PushedFilters in the physical plan) — the columnar-parity
    guarantee that makes ORC a safe parquet stand-in at scale."""
    from prueba_tecnica_analista_etl_spark.sources.files import (
        read_orc,
        write_orc,
    )

    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_orc")
    write_orc(orders, out)
    back = read_orc(spark, out)
    assert back.count() == orders.count()
    assert {f.name for f in back.schema.fields} == {
        f.name for f in orders.schema.fields
    }
    filtered = back.filter(F.col("o_totalprice") > 100000.0).select(
        "o_orderkey", "o_totalprice"
    )
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1][:200]
    spark_rows = filtered.count()
    assert (
        spark_rows
        == orders.filter(F.col("o_totalprice") > 100000.0).count()
    )


def test_normalize_event_time_all_encodings(spark, tmp_path):
    """events.ts must arrive as TimestampType whatever physical parquet
    encoding the harness ships: TIMESTAMP(NANOS) (read as long under
    nanosAsLong), TIMESTAMP_MICROS isAdjustedToUTC=0 (Spark 4 reads as
    TIMESTAMP_NTZ), and TIMESTAMP_MICROS isAdjustedToUTC=1 (already
    TimestampType). All three must decode to the same instants, and the
    normalized frame must accept withWatermark (an encoding change of
    the testdata once broke exactly that)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from prueba_tecnica_analista_etl_spark.sources.tables import (
        normalize_event_time,
    )

    instants = [
        dt.datetime(2024, 3, 1, 12, 0, 0, 123456),
        dt.datetime(2024, 3, 2, 0, 30, 15, 654321),
    ]
    micros = [
        int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        for t in instants
    ]
    variants = {
        "ns": pa.table(
            {"event_id": [1, 2],
             "ts": pa.array([m * 1000 for m in micros], pa.timestamp("ns"))}
        ),
        "us_ntz": pa.table(
            {"event_id": [1, 2],
             "ts": pa.array(micros, pa.timestamp("us"))}
        ),
        "us_utc": pa.table(
            {"event_id": [1, 2],
             "ts": pa.array(micros, pa.timestamp("us", tz="UTC"))}
        ),
    }
    results = {}
    for name, table in variants.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(table, str(d / "events.parquet"))
        df = load_table(spark, str(d), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), name
        # the encoding-change failure mode: watermark assignment must
        # not raise
        df.withWatermark("ts", "1 minute")
        results[name] = [
            r.ts for r in df.orderBy("event_id").select("ts").collect()
        ]
    assert results["ns"] == results["us_ntz"] == results["us_utc"] == instants
    # no-op on frames without the column
    plain = spark.range(3)
    assert normalize_event_time(plain) is plain


EXPECTED_SCHEMAS = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"),
               ("n_regionkey", "int")],
    "customer": [("c_custkey", "bigint"), ("c_name", "string"),
                 ("c_nationkey", "int"), ("c_acctbal", "double"),
                 ("c_mktsegment", "string")],
    "supplier": [("s_suppkey", "bigint"), ("s_name", "string"),
                 ("s_nationkey", "int"), ("s_acctbal", "double")],
    "part": [("p_partkey", "bigint"), ("p_name", "string"),
             ("p_brand", "string"), ("p_type", "string"),
             ("p_size", "int"), ("p_retailprice", "double")],
    "orders": [("o_orderkey", "bigint"), ("o_custkey", "bigint"),
               ("o_orderstatus", "string"), ("o_totalprice", "double"),
               ("o_orderdate", "timestamp_ntz"),
               ("o_orderpriority", "string")],
    "lineitem": [("l_orderkey", "bigint"), ("l_partkey", "bigint"),
                 ("l_suppkey", "bigint"), ("l_linenumber", "int"),
                 ("l_quantity", "double"), ("l_extendedprice", "double"),
                 ("l_discount", "double"), ("l_tax", "double"),
                 ("l_returnflag", "string"), ("l_linestatus", "string"),
                 ("l_shipdate", "timestamp_ntz")],
    # ts MUST be plain timestamp whatever the parquet encoding —
    # normalize_event_time's invariant; watermarks depend on it.
    "events": [("event_id", "bigint"), ("ts", "timestamp"),
               ("user_id", "bigint"), ("event_type", "string"),
               ("value", "double"), ("props", "string")],
    "documents": [("doc_id", "bigint"), ("text", "string"),
                  ("lang", "string"), ("source", "string"),
                  ("n_chars", "bigint")],
    "embeddings": [("vec_id", "bigint"), ("embedding", "array<float>"),
                   ("label", "int")],
}


def test_testdata_schema_sentinel(spark, sf_dir):
    """Pin the LOADED schema of every canonical table. The harness has
    regenerated the testdata with a different physical encoding once
    already (events.ts ns -> us-NTZ between rounds 3 and 4, which
    silently broke every watermark consumer); this sentinel makes the
    next drift fail HERE, by name, instead of deep inside a streaming
    query. If it fires: update normalize_event_time / the loaders to
    re-establish the logical contract, then update this table."""
    from prueba_tecnica_analista_etl_spark.sources.tables import TABLES

    got = {
        name: [
            (f.name, f.dataType.simpleString())
            for f in load_table(spark, sf_dir, name).schema.fields
        ]
        for name in TABLES
    }
    assert got == EXPECTED_SCHEMAS


def test_event_time_magnitude_sentinel(spark, sf_dir):
    """Unit-drift guard for normalize_event_time: the schema sentinel
    catches a physical TYPE change, but an int64 column that switched
    meaning from epoch-nanos to epoch-micros/millis would keep the same
    type and be silently mis-scaled 1000x by the `div 1000` branch.
    Pin the decoded instants to a plausible window — a ms-encoded long
    read as nanos lands in 1970 and an s-encoded one far past 2100, so
    either drift fails HERE by name. int64 event time is contractually
    epoch NANOS (see normalize_event_time's docstring)."""
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    lo, hi = load_table(spark, sf_dir, "events").agg(
        F.min("ts"), F.max("ts")
    ).first()
    assert 1990 <= lo.year <= 2100, lo
    assert 1990 <= hi.year <= 2100, hi


def test_event_time_unit_drift_lands_outside_sentinel_window(
    spark, tmp_path
):
    """Synthetic proof the sentinel actually FIRES on unit drift: any
    int64 encoding COARSER than the contractual nanos (micros, millis,
    seconds) decodes through the nanos branch to instants near 1970 —
    a 2024 value shrinks by the 1e3/1e6/1e9 unit ratio — squarely
    below the sentinel's 1990 floor. (A FINER-than-nanos unit would
    overshoot past 2100 instead; no finer standard unit exists, so the
    low side is the realistic drift direction.) Mis-scaling is loud,
    never silent."""
    import datetime

    from prueba_tecnica_analista_etl_spark.sources.tables import (
        normalize_event_time,
    )

    instant = datetime.datetime(
        2024, 6, 1, tzinfo=datetime.timezone.utc
    ).timestamp()
    for unit_scale in (1_000_000, 1_000, 1):  # micros, millis, seconds
        df = spark.createDataFrame(
            [(1, int(instant * unit_scale))], "event_id long, ts long"
        )
        p = str(tmp_path / f"ev_{unit_scale}")
        df.write.parquet(p)
        got = normalize_event_time(spark.read.parquet(p)).first()["ts"]
        assert got.year < 1990, (unit_scale, got)


def test_compact_parquet_merges_small_files(spark, sf_dir, tmp_path):
    """Compaction contract: many small files become few ~target-size
    files with byte-identical content; a leftover tmp dir from a
    crashed previous compaction is swept before the rewrite; the
    shuffle-free default and the balancing variant agree on content."""
    import os

    from prueba_tecnica_analista_etl_spark.sources.files import (
        compact_parquet,
    )
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "t")
    ev.repartition(64).write.parquet(path)
    small = [
        e for e in os.scandir(path)
        if e.is_file() and e.name.endswith(".parquet")
    ]
    assert len(small) == 64
    total = sum(e.stat().st_size for e in small)
    want = sorted(map(tuple, ev.collect()))

    # simulate a crashed earlier compaction attempt
    from prueba_tecnica_analista_etl_spark.artifacts import staging

    os.makedirs(staging(path))

    n = compact_parquet(spark, path, target_bytes=total // 4 + 1)
    assert 1 <= n <= 5
    assert os.listdir(tmp_path) == ["t"], "no staging or aside dir left"
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want

    n2 = compact_parquet(spark, path, target_bytes=total * 2, balance=True)
    assert n2 == 1
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want


def test_compact_partitioned_respects_boundaries(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Partitioned compaction merges files only WITHIN each leaf dir:
    fragmented partitions collapse to one file, already-compact ones
    are untouched (skip threshold), partition values and content
    survive exactly."""
    import os

    import pytest

    from prueba_tecnica_analista_etl_spark.sources.files import (
        compact_partitioned,
    )
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("day", F.to_date("ts"))
        .limit(2000)
    )
    path = str(tmp_path / "t")
    # two appends -> every partition holds >= 2 file sets
    ev.repartition(4).write.partitionBy("day").mode("append").parquet(path)
    ev.repartition(4).write.partitionBy("day").mode("append").parquet(path)
    want = sorted(
        map(tuple, spark.read.parquet(path).collect())
    )
    parts = [
        e.name
        for e in os.scandir(path)
        if e.is_dir() and e.name.startswith("day=")
    ]
    assert parts
    done = compact_partitioned(spark, path, target_bytes=1 << 30)
    assert set(done) == set(parts)  # all were fragmented
    assert all(n == 1 for n in done.values())
    after = spark.read.parquet(path)
    assert sorted(map(tuple, after.collect())) == want
    # swap dirs never leaked into partition discovery
    days = {str(r["day"]) for r in after.select("day").distinct().collect()}
    assert days == {p.split("=", 1)[1] for p in parts}
    # second pass: everything is one file per partition -> all skipped
    assert compact_partitioned(spark, path, target_bytes=1 << 30) == {}

    # crash recovery: a leaf stranded mid-swap (renamed aside, staged
    # copy never renamed in) is restored by the entry sweep; the stale
    # staged dir is removed; content is intact afterwards
    leaf = sorted(parts)[0]
    real_rename = os.rename
    calls = []

    def crash_before_rename_in(src, dst):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("injected crash")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_before_rename_in)
    with pytest.raises(OSError, match="injected"):
        compact_partitioned(spark, path, target_bytes=1 << 30, min_files=1)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(os.path.join(path, leaf))
    compact_partitioned(spark, path, target_bytes=1 << 30)
    assert os.path.isdir(os.path.join(path, leaf))
    hidden = [
        e.name for e in os.scandir(path)
        if e.is_dir() and e.name.startswith(".")
    ]
    assert hidden == [], "no staging or aside dir left in the table root"
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == want


def test_partitioned_scan_prunes_partitions(spark, sf_dir, tmp_path):
    """Filtering on the partition column is DIRECTORY-level pruning:
    the predicate lands in the scan's PartitionFilters (not a
    post-scan filter) and the planned scan touches only the matching
    leaf's files — at 100 TB the reason a day-scoped query reads
    1/365th of a date-partitioned lake instead of all of it."""
    import glob
    import os

    import pytest

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("day", F.to_date("ts"))
        .limit(2000)
    )
    path = str(tmp_path / "pruned")
    ev.write.partitionBy("day").parquet(path)
    tbl = spark.read.parquet(path)
    days = sorted(
        str(r["day"]) for r in tbl.select("day").distinct().collect()
    )
    assert len(days) >= 2  # pruning is only meaningful with siblings

    one = tbl.filter(F.col("day") == days[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "day" in pf, plan  # predicate reached partition pruning
    # and did NOT degrade to a data filter over all partitions
    assert "day" not in plan.split("PushedFilters: [")[1].split("]")[0]

    # Execution-level proof: corrupt every file in a SIBLING leaf.
    # The day[0] query still succeeds (its scan never opens the
    # sibling's files — pruned at the directory level); a query that
    # does need the sibling fails loudly.
    want = one.count()
    assert want > 0
    sib_files = glob.glob(os.path.join(path, f"day={days[1]}", "*.parquet"))
    assert sib_files
    for f in sib_files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    assert one.count() == want  # pruned scan untouched by corruption
    with pytest.raises(Exception):
        tbl.filter(F.col("day") == days[1]).count()


def test_zorder_write_prunes_on_every_dimension(spark, sf_dir, tmp_path):
    """Z-order clustering vs a linear sort, measured from the parquet
    stats the scanner actually skips with: after zorder_write on
    (user_id, ts-µs), a 5% time-slice predicate overlaps a FRACTION of
    the files while the user-sorted layout overlaps ALL of them — and
    the z-ordered files still prune on user_id too. Content preserved
    exactly."""
    import glob

    import pyarrow.parquet as pq

    from prueba_tecnica_analista_etl_spark.sources.files import (
        zorder_write,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("tus")
    )
    zpath, lpath = str(tmp_path / "zord"), str(tmp_path / "lin")
    zorder_write(ev, ["user_id", "tus"], zpath, n_files=32)
    (
        ev.repartitionByRange(32, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def overlapping(path, col, lo, hi):
        tot, ov = 0, 0
        for f in glob.glob(path + "/part-*.parquet"):
            md = pq.read_metadata(f)
            idx = md.schema.names.index(col)
            stats = [
                md.row_group(i).column(idx).statistics
                for i in range(md.num_row_groups)
            ]
            fmin = min(s.min for s in stats)
            fmax = max(s.max for s in stats)
            tot += 1
            if fmax >= lo and fmin <= hi:
                ov += 1
        return ov, tot

    b = ev.agg(F.min("tus"), F.max("tus"), F.count(F.lit(1))).first()
    tmin, tmax, n_rows = b
    mid, span = (tmin + tmax) // 2, (tmax - tmin) // 20  # 5% slice

    z_ts, z_tot = overlapping(zpath, "tus", mid, mid + span)
    l_ts, l_tot = overlapping(lpath, "tus", mid, mid + span)
    assert l_ts == l_tot  # linear-by-user: zero pruning on time
    assert z_ts <= z_tot // 2, (z_ts, z_tot)  # z-order: real pruning
    z_u, _ = overlapping(zpath, "user_id", 70, 77)
    assert z_u < z_tot  # and the other dimension still prunes

    assert spark.read.parquet(zpath).count() == n_rows
    assert (
        spark.read.parquet(zpath)
        .exceptAll(spark.read.parquet(lpath))
        .count()
        == 0
    )


def test_zorder_write_handles_nulls_and_constants(spark, tmp_path):
    """NULLs in a z-column cluster at the column minimum (coalesce)
    rather than failing, a constant column degenerates gracefully
    (span clamps to 1), and every row survives the rewrite."""
    from prueba_tecnica_analista_etl_spark.sources.files import (
        zorder_write,
    )

    df = spark.createDataFrame(
        [(i, None if i % 7 == 0 else i * 3, 42) for i in range(500)],
        "id long, a long, c long",
    )
    out = str(tmp_path / "znull")
    zorder_write(df, ["a", "c"], out, n_files=4)
    back = spark.read.parquet(out)
    assert back.count() == 500
    assert back.filter("a IS NULL").count() == df.filter("a IS NULL").count()
    assert back.exceptAll(df).count() == 0


def test_zorder_write_fractional_span_and_errors(spark, tmp_path):
    """A double column with a sub-1.0 range must still scale INSIDE
    [0, 2^bits): with integer-truncated span the max value would fold
    into a mid-range z-key (zvalue drops bits >= bits_per_col) and
    silently break clustering. All-NULL columns raise clearly instead
    of crashing downstream."""
    import pytest as _pytest

    from prueba_tecnica_analista_etl_spark.sources.files import (
        zorder_write,
    )

    df = spark.createDataFrame(
        [(i, i / 400.0, i % 13) for i in range(400)],
        "id long, price double, qty long",
    )
    out = str(tmp_path / "zfrac")
    zorder_write(df, ["price", "qty"], out, n_files=4)
    back = spark.read.parquet(out)
    assert back.count() == 400
    assert back.exceptAll(df).count() == 0
    # the z-max row must land in the LAST range partition, not mid-file
    import glob

    import pyarrow.parquet as pq

    fmaxes = []
    for f in sorted(glob.glob(out + "/part-*.parquet")):
        md = pq.read_metadata(f)
        idx = md.schema.names.index("price")
        fmaxes.append(
            max(
                md.row_group(i).column(idx).statistics.max
                for i in range(md.num_row_groups)
            )
        )
    assert max(fmaxes) == fmaxes[-1]  # top of the range sorts last

    allnull = spark.createDataFrame(
        [(1, None), (2, None)], "id long, a double"
    )
    with _pytest.raises(ValueError):
        zorder_write(allnull, ["a", "id"], str(tmp_path / "zn"), n_files=2)


def test_jdbc_roundtrip_against_embedded_derby(spark, sf_dir, tmp_path):
    """S7/S8 proven against a REAL database: Spark ships embedded
    Apache Derby, so the JDBC sink writes an actual table, overwrite
    mode replaces it (the reference's if_exists='replace'), the scan
    reads it back value-exact including a TIMESTAMP column, the
    partitioned read issues real parallel range queries, and a
    filtered read pushes the predicate into the JDBC scan."""
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    drv = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus", "o_orderdate"
    ).limit(200)
    write_jdbc(orders, url, "orders_t", driver=drv).save()
    write_jdbc(orders, url, "orders_t", driver=drv).save()  # replace
    back = read_jdbc(spark, url, "orders_t", driver=drv).load()
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, orders.collect())
    )

    hi = orders.agg(F.max("o_orderkey")).first()[0]
    pb = read_jdbc(
        spark,
        url,
        "orders_t",
        partition_column="o_orderkey",
        num_partitions=4,
        lower_bound=0,
        upper_bound=int(hi) + 1,
        driver=drv,
    ).load()
    assert pb.rdd.getNumPartitions() == 4  # real parallel range scan
    assert pb.count() == 200

    flt = back.filter(F.col("o_totalprice") > 100000.0)
    plan = flt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_totalprice" in plan.split(
        "PushedFilters"
    )[1][:200]
    want = orders.filter(F.col("o_totalprice") > 100000.0).count()
    assert flt.count() == want


def test_export_training_shards_roundtrip_and_manifest(
    spark, sf_dir, tmp_path
):
    """Export contract: every input row lands in exactly one shard,
    shard membership is a pure function of the key (re-export after an
    arbitrary repartition is byte-stable), the manifest's counts/
    token totals/checksums all validate."""
    from prueba_tecnica_analista_etl_spark.sources.export import (
        export_training_shards,
        verify_training_shards,
    )
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(F.split("text", " "))
    )
    path = str(tmp_path / "shards")
    manifest = export_training_shards(docs, path, "doc_id", n_shards=7)
    assert set(manifest) <= set(range(7)) and len(manifest) > 1
    assert sum(m["rows"] for m in manifest.values()) == docs.count()
    assert sum(m["tokens"] for m in manifest.values()) == (
        docs.agg(F.sum("n_tok")).first()[0]
    )
    assert verify_training_shards(spark, path) == {}

    back = spark.read.parquet(path + "/data").drop("shard_id")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, docs.collect())
    )

    # determinism: different physical layout, same shards + checksums
    path2 = str(tmp_path / "shards2")
    manifest2 = export_training_shards(
        docs.repartition(13), path2, "doc_id", n_shards=7
    )
    assert manifest2 == manifest


def test_export_training_shards_detects_tampering(spark, sf_dir, tmp_path):
    """The verifier must catch post-export corruption by shard id: a
    deleted shard directory reports missing-on-disk; a shard with an
    injected extra file reports row/checksum drift."""
    import os as _os

    from prueba_tecnica_analista_etl_spark.sources.export import (
        export_training_shards,
        verify_training_shards,
    )
    from prueba_tecnica_analista_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    path = str(tmp_path / "shards")
    export_training_shards(docs, path, "doc_id", n_shards=4)
    assert verify_training_shards(spark, path) == {}

    # delete one shard dir
    import shutil as _sh

    victim = _os.path.join(path, "data", "shard_id=2")
    _sh.rmtree(victim)
    problems = verify_training_shards(spark, path)
    assert set(problems) == {2} and "missing on disk" in problems[2]

    # duplicate a surviving shard's file into the hole -> rows and
    # checksum both drift, attributed to shard 2
    src_dir = _os.path.join(path, "data", "shard_id=1")
    _os.makedirs(victim)
    for f in _os.listdir(src_dir):
        if f.endswith(".parquet"):
            _sh.copy(_os.path.join(src_dir, f), _os.path.join(victim, f))
    problems = verify_training_shards(spark, path)
    assert set(problems) == {2}
    assert "checksum" in problems[2] or "rows" in problems[2]


def test_export_training_shards_rejects_empty_frame(spark, tmp_path):
    """A zero-row input writes zero part files and would crash
    mid-export on read-back schema inference, stranding a
    staging dir. The export must fail with a clear error and leave
    NOTHING behind — checked right after the (empty, cheap) write via
    a file-level check, so the guard never re-runs the upstream
    lineage."""
    import os

    import pytest as _pytest

    from prueba_tecnica_analista_etl_spark.sources.export import (
        export_training_shards,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    path = str(tmp_path / "empty")
    with _pytest.raises(ValueError, match="empty frame"):
        export_training_shards(empty, path, "doc_id", n_shards=4)
    assert not os.path.exists(path)
    assert os.listdir(tmp_path) == [], (
        "failed export left a dangling staging dir"
    )


def test_export_checksum_catches_even_multiplicity_swap(spark, tmp_path):
    """A bit_xor content fold is blind to
    even-multiplicity substitutions — two copies of row A swapped for
    two copies of row B XOR-cancel to the same digest. The summing
    fold must move. Construct the adversarial pair directly: same row
    count, every row duplicated an even number of times."""
    from prueba_tecnica_analista_etl_spark.sources.export import (
        SHARD_COL,
        _shard_stats,
    )

    a = spark.createDataFrame(
        [(0, "A"), (0, "A"), (0, "C"), (0, "C")],
        f"{SHARD_COL} int, text string",
    )
    b = spark.createDataFrame(
        [(0, "B"), (0, "B"), (0, "C"), (0, "C")],
        f"{SHARD_COL} int, text string",
    )
    ca = _shard_stats(a)[0]["checksum"]
    cb = _shard_stats(b)[0]["checksum"]
    assert ca != cb, "checksum blind to even-multiplicity row swap"
    # and order-insensitivity still holds
    a_rev = spark.createDataFrame(
        [(0, "C"), (0, "A"), (0, "C"), (0, "A")],
        f"{SHARD_COL} int, text string",
    )
    assert _shard_stats(a_rev)[0]["checksum"] == ca


def test_versioned_table_commit_timetravel_rollback_vacuum(
    spark, sf_dir, tmp_path
):
    """The versioned-snapshot contract end to end: commits publish
    atomically and monotonically, the default read follows the
    pointer, time travel reads any retained version, rollback
    republishes old data as a NEW version (append-only history), and
    vacuum drops only versions beyond the retention window, never the
    published one."""
    from prueba_tecnica_analista_etl_spark.sources.versioned import (
        commit_snapshot,
        current_version,
        list_versions,
        read_snapshot,
        rollback,
        vacuum,
    )

    table = str(tmp_path / "nation_versioned")
    nation = load_table(spark, sf_dir, "nation")

    v0 = commit_snapshot(nation, table)
    v1 = commit_snapshot(nation.filter(F.col("n_regionkey") != 0), table)
    v2 = commit_snapshot(nation.limit(3), table)
    assert (v0, v1, v2) == (0, 1, 2)
    assert current_version(table) == 2

    assert read_snapshot(spark, table).count() == 3  # follows pointer
    n_full = nation.count()
    assert read_snapshot(spark, table, version=0).count() == n_full
    n_v1 = read_snapshot(spark, table, version=1).count()
    assert 0 < n_v1 < n_full

    # rollback: restores v0's data under a NEW version
    v3 = rollback(table, 0)
    assert v3 == 3 and current_version(table) == 3
    assert read_snapshot(spark, table).count() == n_full
    assert read_snapshot(spark, table, version=2).count() == 3  # kept

    # vacuum keep=2: v0 and v1 go, v2 and the published v3 stay
    removed = vacuum(table, keep=2)
    assert removed == [0, 1]
    assert list_versions(table) == [2, 3]
    assert read_snapshot(spark, table).count() == n_full
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, version=0)


def test_versioned_table_vacuum_never_drops_published(spark, sf_dir, tmp_path):
    """Even when the published pointer targets an OLD version (e.g.
    someone inspected history but never recommitted), vacuum must
    spare it."""
    from prueba_tecnica_analista_etl_spark.sources.versioned import (
        _publish_pointer,
        commit_snapshot,
        list_versions,
        read_snapshot,
        vacuum,
    )

    table = str(tmp_path / "t")
    nation = load_table(spark, sf_dir, "nation")
    for i in range(4):
        commit_snapshot(nation.limit(i + 1), table)
    _publish_pointer(table, 0)  # pointer pinned to the oldest

    removed = vacuum(table, keep=1)
    assert 0 not in removed
    assert set(list_versions(table)) == {0, 3}
    assert read_snapshot(spark, table).count() == 1  # v0 readable


def test_versioned_table_random_lifecycle_matches_model(
    spark, sf_dir, tmp_path
):
    """Randomized lifecycle: a scripted sequence of commits, rollbacks
    and vacuums must track a simple Python model of the published
    chain — the published version's ROW COUNT always equals the
    model's, every retained version stays readable with its original
    count, and vacuumed versions raise. Exercises interleavings the
    hand-written lifecycle test doesn't (rollback-of-rollback, vacuum
    immediately after rollback, repeated vacuums)."""
    import random

    from prueba_tecnica_analista_etl_spark.sources.versioned import (
        commit_snapshot,
        current_version,
        list_versions,
        read_snapshot,
        rollback,
        vacuum,
    )

    nation = load_table(spark, sf_dir, "nation")
    table = str(tmp_path / "t")
    rng = random.Random(7)

    model_rows: dict[int, int] = {}  # version -> row count
    published: int | None = None

    for step in range(18):
        action = rng.choice(["commit", "commit", "rollback", "vacuum"])
        if action == "commit" or published is None:
            n = rng.randint(1, 25)
            v = commit_snapshot(nation.limit(n), table)
            assert v not in model_rows  # versions never reused
            model_rows[v] = n
            published = v
        elif action == "rollback":
            target = rng.choice(sorted(model_rows))
            v = rollback(table, target)
            model_rows[v] = model_rows[target]
            published = v
        else:
            keep = rng.randint(1, 3)
            removed = vacuum(table, keep=keep)
            for v in removed:
                assert v != published
                del model_rows[v]

        assert current_version(table) == published
        assert sorted(model_rows) == list_versions(table)
        assert read_snapshot(spark, table).count() == model_rows[published]
        for v, n in model_rows.items():
            assert read_snapshot(spark, table, version=v).count() == n


def test_export_training_shards_null_token_sum(spark, tmp_path):
    """Regression (review finding): a shard whose token column is
    entirely NULL must export successfully with a NULL tokens entry in
    the manifest — the refactored manifest writer crashed with
    KeyError after the data was already written."""
    from prueba_tecnica_analista_etl_spark.sources.export import (
        export_training_shards,
        verify_training_shards,
    )

    df = spark.createDataFrame(
        [(i, f"t{i}", None) for i in range(20)],
        "id long, text string, n_tok long",
    )
    path = str(tmp_path / "shards")
    manifest = export_training_shards(df, path, "id", n_shards=3)
    assert sum(m["rows"] for m in manifest.values()) == 20
    assert all("tokens" not in m for m in manifest.values())
    assert verify_training_shards(spark, path) == {}


def test_versioned_snapshots_feed_cdc_generation(spark, sf_dir, tmp_path):
    """Cross-module composition: two committed table versions diffed
    with snapshot_diff yield exactly the I/U/D change feed between
    them, and applying that feed to the OLD snapshot with cdc_apply
    reproduces the NEW one — versioned time travel, CDC generate and
    CDC apply close the loop."""
    from prueba_tecnica_analista_etl_spark.operators.upsert import (
        cdc_apply,
        snapshot_diff,
    )
    from prueba_tecnica_analista_etl_spark.sources.versioned import (
        commit_snapshot,
        read_snapshot,
    )

    table = str(tmp_path / "cust")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    # key-RANGE predicates, never limit(): unordered limits are not
    # stable or prefix-consistent across scan layouts, which would
    # make the I/U/D arithmetic below flake
    v0 = commit_snapshot(cust.filter("c_custkey < 40"), table)
    newer = (
        cust.filter("c_custkey < 30")  # keys 30-39 deleted
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 1)
            .otherwise(F.col("c_acctbal")),
        )
        .unionByName(
            cust.filter("c_custkey >= 40 AND c_custkey < 45")
        )  # 5 inserts from outside the old range
    )
    v1 = commit_snapshot(newer, table)

    old = read_snapshot(spark, table, version=v0)
    new = read_snapshot(spark, table, version=v1)
    feed = snapshot_diff(old, new, ["c_custkey"])
    kinds = {
        r["c_custkey"]: r["change_type"] for r in feed.collect()
    }
    assert sorted(kinds.values()).count("I") == 5
    assert sorted(kinds.values()).count("D") == 10

    # close the loop: old + feed == new (feed carries the NEW values)
    applied = cdc_apply(
        old,
        feed.select(
            "c_custkey", "c_name", "c_acctbal",
            F.col("change_type").alias("op"),
        ),
        ["c_custkey"],
    )
    assert sorted(map(tuple, applied.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_footer_stats_session_pushes_aggregates(spark, sf_dir):
    """Footer-stats census: on the pushdown-configured session clone a
    filter-free MIN/MAX and a COUNT(*) over parquet show
    PushedAggregation in the scan (answered from row-group footers,
    no data pages), values are identical to the default-session
    computation, and a FILTERED aggregate correctly falls back to a
    real scan (no pushdown) with the right answer."""
    from prueba_tecnica_analista_etl_spark.sources.tables import (
        footer_stats_session,
    )

    path = f"{sf_dir}/orders.parquet"
    s = footer_stats_session(spark)

    pushed = s.read.parquet(path).agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_orderkey").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: [MIN(o_totalprice)" in plan
    want = (
        spark.read.parquet(path)
        .agg(
            F.min("o_totalprice").alias("lo"),
            F.max("o_orderkey").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .first()
    )
    assert tuple(pushed.first()) == tuple(want)

    filtered = (
        s.read.parquet(path)
        .filter(F.col("o_orderkey") > 100)
        .agg(F.min("o_totalprice").alias("lo"))
    )
    fplan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation: [MIN" not in fplan  # fallback to scan
    assert (
        filtered.first()["lo"]
        == spark.read.parquet(path)
        .filter(F.col("o_orderkey") > 100)
        .agg(F.min("o_totalprice"))
        .first()[0]
    )


def test_export_manifest_records_checksum_algo(spark, tmp_path):
    """The checksum definition is versioned INTO the manifest: a
    verifier facing a manifest written under a different fold must
    refuse BY NAME (sentinel shard -1), never report per-shard
    'corruption' indistinguishable from tampering (the bit_xor → sum
    migration would have done exactly that to old manifests)."""
    import prueba_tecnica_analista_etl_spark.sources.export as ex

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(50)], "doc_id long, text string"
    )
    good = str(tmp_path / "good")
    ex.export_training_shards(df, good, "doc_id", n_shards=4)
    assert ex.verify_training_shards(spark, good) == {}

    legacy = str(tmp_path / "legacy")
    orig = ex.CHECKSUM_ALGO
    ex.CHECKSUM_ALGO = "bit_xor-legacy"
    try:
        ex.export_training_shards(df, legacy, "doc_id", n_shards=4)
    finally:
        ex.CHECKSUM_ALGO = orig
    problems = ex.verify_training_shards(spark, legacy)
    assert set(problems) == {-1}
    assert "bit_xor-legacy" in problems[-1]
    assert "re-export" in problems[-1]


def test_export_verify_refuses_manifest_without_algo(spark, tmp_path):
    """A manifest WITHOUT the checksum_algo column names no checksum
    definition, so it cannot be content-verified: it gets the same
    named refusal (sentinel shard -1) as an unsupported algo."""
    import os

    import prueba_tecnica_analista_etl_spark.sources.export as ex

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(50)], "doc_id long, text string"
    )
    path = str(tmp_path / "no_marker")
    ex.export_training_shards(df, path, "doc_id", n_shards=4)
    mpath = os.path.join(path, ex.MANIFEST)
    stripped = spark.read.parquet(mpath).drop("checksum_algo")
    rows, schema = stripped.collect(), stripped.schema
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        mpath
    )
    problems = ex.verify_training_shards(spark, path)
    assert set(problems) == {-1}
    assert "None" in problems[-1] and "re-export" in problems[-1]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """The co-located-join storage primitive (sources/bucketed.py):
    two tables bucketed by the same key into the same bucket count
    must equi-join with NO Exchange on either side — each task reads
    bucket i of both and joins locally (the write-once-instead-of-
    shuffle-per-join trade SCALE.md promises). Broadcast is disabled
    so the test cannot pass vicariously through a BroadcastExchange;
    rows must equal the plain join's, and a bucket-count mismatch
    must fail LOUDLY instead of silently shuffling."""
    import pytest

    from pyspark.sql import functions as F

    from prueba_tecnica_analista_etl_spark.sources.bucketed import (
        bucketed_join,
        write_bucketed,
    )

    left = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("a")
    )
    right = spark.range(0, 2000, 2).select(
        F.col("id").alias("k"), (F.col("id") + 7).alias("b")
    )
    for name in ("bkt_left", "bkt_right", "bkt_right5"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_bucketed(left, "bkt_left", "k", buckets=8)
    write_bucketed(right, "bkt_right", "k", buckets=8)
    write_bucketed(right, "bkt_right5", "k", buckets=5)
    try:
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bucketed_join(spark, "bkt_left", "bkt_right", "k")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan, plan
            # bucketed scans expose their layout in the plan text
            assert "Bucketed: true" in plan, plan
            got = {(r["k"], r["a"], r["b"]) for r in j.collect()}
            want = {
                (r["k"], r["a"], r["b"])
                for r in left.join(right, "k").collect()
            }
            assert got == want and len(got) == 1000
            # mismatched bucket counts: loud, not a silent shuffle
            with pytest.raises(ValueError, match="disagree"):
                bucketed_join(spark, "bkt_left", "bkt_right5", "k")
            # a plain (non-bucketed) table is rejected by name too
            spark.sql("DROP TABLE IF EXISTS bkt_plain")
            right.write.mode("overwrite").saveAsTable("bkt_plain")
            try:
                with pytest.raises(ValueError, match="not bucketed"):
                    bucketed_join(spark, "bkt_left", "bkt_plain", "k")
            finally:
                spark.sql("DROP TABLE IF EXISTS bkt_plain")
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", old_thr
            )
    finally:
        for name in ("bkt_left", "bkt_right", "bkt_right5"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_load_table_schema_follows_inference_confs(spark, tmp_path):
    """The stored table schema is keyed by the session confs that
    change parquet inference: a session reading BINARY as strings gets
    StringType, a default session BinaryType, from one corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(
        pa.table({"id": [1, 2], "b": pa.array([b"x", b"yz"], pa.binary())}),
        str(corpus / "blobs.parquet"),
    )
    as_string = spark.newSession()
    as_string.conf.set("spark.sql.parquet.binaryAsString", "true")
    got = load_table(as_string, str(corpus), "blobs")
    assert got.schema["b"].dataType == T.StringType()
    assert sorted(r.b for r in got.collect()) == ["x", "yz"]
    plain = load_table(spark, str(corpus), "blobs")
    assert plain.schema["b"].dataType == T.BinaryType()
    assert sorted(bytes(r.b) for r in plain.collect()) == [b"x", b"yz"]


def test_load_table_sees_a_rewritten_table_schema(spark, tmp_path):
    """A table rewritten with an added column changes the corpus
    fingerprint, so the stored schema is inferred again and the new
    column is read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    path = str(corpus / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(corpus), "region").columns == [
        "r_regionkey"
    ]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}),
        path,
    )
    df = load_table(spark, str(corpus), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(r.r_name for r in df.collect()) == ["AFRICA", "ASIA"]
