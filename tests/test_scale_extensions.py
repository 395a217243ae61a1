"""Scale-extension semantics: LSH recall against exact all-pairs ground
truth on the planted near-dups, bucketed co-located joins (no Exchange),
multimodal op plumbing, driver-side retry (T8)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.multimodal import (
    extract_features,
    fake_assets,
)
from prueba_tecnica_analista_etl_spark.plans import REGISTRY
from prueba_tecnica_analista_etl_spark.sources.bucketed import write_bucketed
from prueba_tecnica_analista_etl_spark.sources.tables import (
    load_table,
)
from prueba_tecnica_analista_etl_spark.stages.dedup import MINHASH_JACCARD_T
from prueba_tecnica_analista_etl_spark.streaming.upsert_sink import (
    run_with_retry,
)


def _exact_neardup_pairs(spark, sf_dir, threshold=0.5):
    """Exact all-pairs 3-shingle Jaccard ground truth (driver-side on
    the small test slice only — the thing the LSH queries exist to
    avoid at scale)."""
    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    )
    sh = {}
    for r in rows:
        toks = r["text"].lower().split(" ")
        n = max(len(toks) - 2, 1)
        sh[r["doc_id"]] = {
            " ".join(toks[i : i + 3]) for i in range(n)
        }
    out = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        if not inter:
            continue
        j = inter / len(sh[a] | sh[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


def test_minhash_recall_and_exactness(spark, sf_dir):
    truth = _exact_neardup_pairs(spark, sf_dir)
    assert truth, "corpus should contain planted near-dup pairs"
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard_sim"]
        for r in REGISTRY["q_minhash_dedup"].fn(spark, sf_dir).collect()
    }
    # banded-minhash recall: 4 bands × 3 rows at s≥0.9 ⇒ ~99.99%;
    # allow a miss or two from pairs right at the 0.5 threshold
    found = set(got) & set(truth)
    assert len(found) >= 0.9 * len(truth)
    # no false positives (exact re-rank filters candidates)
    for pair in got:
        assert pair in truth
    # reported similarity is the exact Jaccard (re-rank, not estimate)
    for pair in found:
        assert got[pair] == pytest.approx(truth[pair], abs=1e-4)


def test_ngram_jaccard_exact_values(spark, sf_dir):
    """q_ngram_jaccard's reported similarity is the exact trigram
    Jaccard, and every emitted pair genuinely shares shingles."""
    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    )
    sh = {}
    for r in rows:
        toks = r["text"].lower().split(" ")
        n = max(len(toks) - 2, 1)
        sh[r["doc_id"]] = {" ".join(toks[i : i + 3]) for i in range(n)}
    got = REGISTRY["q_ngram_jaccard"].fn(spark, sf_dir).collect()
    assert got
    for r in got:
        a, b = sh[r["doc_a"]], sh[r["doc_b"]]
        want = len(a & b) / len(a | b)
        assert r["jaccard_sim"] == pytest.approx(want, abs=1e-4)
        assert want > 0


def test_ngram_jaccard_skew_bucket_subsplit(spark, tmp_path):
    """A pathological corpus where every doc shares the same min-shingle
    (identical text) must NOT explode into n²/2 pairs — the oversized
    bucket is sub-split into ≤BUCKET_CAP chunks — but it must also NOT
    vanish (dropping the whole bucket would lose every near-dup signal
    feeding corpus curation). The query still emits
    (limit-bounded) exact-dup pairs with jaccard 1.0."""
    from prueba_tecnica_analista_etl_spark.stages.dedup import BUCKET_CAP

    n = 4 * BUCKET_CAP
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact text repeated in every document row").alias(
            "text"
        ),
        F.lit("en").alias("lang"),
        F.lit(50).alias("n_chars"),
    )
    skew_dir = str(tmp_path / "skew_sf")
    docs.write.parquet(f"{skew_dir}/documents.parquet")
    out = REGISTRY["q_ngram_jaccard"].fn(spark, skew_dir).collect()
    assert len(out) == 100  # the query's limit, not 19,900 and not 0
    assert all(r["jaccard_sim"] == 1.0 for r in out)


def test_capped_pair_array_bounds_and_coverage(spark):
    """Direct bound on the sub-split expansion: a 20-member bucket at
    cap=5 yields exactly 4 chunks × C(5,2) = 40 pairs (vs C(20,2) =
    190 unguarded), every pair is ordered, deterministic across runs,
    and an under-cap bucket expands to ALL its pairs."""
    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        capped_pair_array,
    )

    docs = spark.range(1).select(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("long").alias("doc_id"),
                    F.lit(i * 10).cast("long").alias("payload"),
                )
                for i in range(20)
            ]
        ).alias("docs")
    )
    expanded = docs.select(
        F.explode(
            capped_pair_array(
                F.col("docs"), "doc_id", "payload", "doc_a", "doc_b", cap=5
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", "p.pa", "p.pb")
    rows = expanded.collect()
    assert len(rows) == 4 * 10  # ceil(20/5) chunks × C(5,2)
    assert all(r["doc_a"] < r["doc_b"] for r in rows)
    assert all(
        r["pa"] == r["doc_a"] * 10 and r["pb"] == r["doc_b"] * 10
        for r in rows
    )
    again = expanded.collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    small = docs.select(
        F.explode(
            capped_pair_array(
                F.col("docs"), "doc_id", "payload", "doc_a", "doc_b",
                cap=64,
            )
        ).alias("p")
    )
    assert small.count() == 190  # C(20,2): nothing lost under the cap


def test_simhash_pairs_are_near_dups(spark, sf_dir):
    truth = _exact_neardup_pairs(spark, sf_dir, threshold=0.3)
    got = REGISTRY["q_simhash_dedup"].fn(spark, sf_dir).collect()
    assert got
    for r in got:
        assert (r["doc_a"], r["doc_b"]) in truth


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    orders = load_table(spark, SF := "/root/testdata/sf0.001", "orders")
    customer = load_table(spark, SF, "customer")
    write_bucketed(
        orders, "b_orders", ["o_custkey"], 4, str(tmp_path / "o")
    )
    write_bucketed(
        customer, "b_customer", ["c_custkey"], 4, str(tmp_path / "c")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: shuffle pre-paid
        n = joined.count()
        want = (
            orders.join(
                customer, F.col("o_custkey") == F.col("c_custkey")
            ).count()
        )
        assert n == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_extract_features_contract(spark, sf_dir):
    assets = fake_assets(load_table(spark, sf_dir, "documents"))
    feats = extract_features(assets).collect()
    assert len(feats) == assets.count()
    for r in feats:
        assert len(r["features"]) == 16
        norm = sum(x * x for x in r["features"])
        assert norm == pytest.approx(1.0, abs=1e-3)
    again = extract_features(assets).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, again))


def test_run_with_retry():
    calls = []
    waits = []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("transient")
        return "ok"

    assert (
        run_with_retry(flaky, attempts=3, backoff_s=1.0, sleep=waits.append)
        == "ok"
    )
    assert waits == [1.0, 2.0]

    with pytest.raises(RuntimeError):
        run_with_retry(
            lambda: (_ for _ in ()).throw(RuntimeError("always")),
            attempts=2,
            backoff_s=0.5,
            sleep=waits.append,
        )


def test_extract_metadata_real_png_gif_dims(spark):
    """extract_metadata parses REAL dimensions from PNG IHDR and GIF
    logical-screen headers (pure-Python, no codec lib); payloads with
    no image magic fall back to the deterministic stub."""
    import struct
    import zlib

    from prueba_tecnica_analista_etl_spark.multimodal import (
        extract_metadata,
    )

    def png(w, h):
        ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
        chunk = b"IHDR" + ihdr
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr))
            + chunk
            + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
        )

    def gif(w, h):
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 10

    def jpeg(w, h):
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = (
            b"\xff\xc0"
            + struct.pack(">H", 11)
            + b"\x08"
            + struct.pack(">HH", h, w)
            + b"\x01\x11\x00"
        )
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    assets = spark.createDataFrame(
        [
            (1, "image/png", bytearray(png(640, 480))),
            (2, "image/gif", bytearray(gif(320, 200))),
            (3, "image/png", bytearray(b"not a real png payload")),
            (4, "image/jpeg", bytearray(jpeg(800, 600))),
        ],
        "asset_id long, media_type string, content binary",
    )
    got = {
        r["asset_id"]: (r["width"], r["height"])
        for r in extract_metadata(assets).collect()
    }
    assert got[1] == (640, 480)
    assert got[2] == (320, 200)
    assert got[4] == (800, 600)
    n = len(b"not a real png payload")
    assert got[3] == (n % 1920, n % 1080)  # stub fallback


def test_multimodal_real_codec_tier_pil(spark):
    """Real-codec tier (skip-gated on the optional import, the
    Kafka/TWS pattern): where PIL is importable the pipeline decodes
    REAL bytes instead of stubbing — extract_metadata reads dims
    PIL-side for a format the header sniffer can't parse (BMP),
    extract_features histograms decoded pixels; and an undecodable
    payload still takes the deterministic stub, so mixed corpora never
    crash."""
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    from prueba_tecnica_analista_etl_spark.multimodal import (
        extract_metadata,
    )

    buf = io.BytesIO()
    Image.new("RGB", (17, 9), (250, 1, 2)).save(buf, format="BMP")
    text_payload = b"not an image at all"
    assets = spark.createDataFrame(
        [
            (1, "image/bmp", bytearray(buf.getvalue())),
            (2, "image/png", bytearray(text_payload)),
        ],
        "asset_id long, media_type string, content binary",
    )

    meta = {
        r["asset_id"]: (r["width"], r["height"])
        for r in extract_metadata(assets).collect()
    }
    assert meta[1] == (17, 9)  # sniffer can't do BMP — PIL tier did
    n = len(text_payload)
    assert meta[2] == (n % 1920, n % 1080)  # stub even with PIL

    feats = extract_features(assets).collect()
    assert all(
        r["features"] is not None and len(r["features"]) == 16
        for r in feats
    )


def test_extract_metadata_jpeg_fill_and_stuffed_bytes(spark):
    """JPEG marker-walk edge cases: FF fill bytes before a marker
    (FF FF C0 — the re-sync must not consume the FF that prefixes the
    real SOF) and a stuffed FF 00 data byte (not a marker, has no
    length field) before the frame header."""
    import struct

    from prueba_tecnica_analista_etl_spark.multimodal import (
        extract_metadata,
    )

    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", 600, 800)  # h, w
        + b"\x01\x11\x00"
    )
    fill_then_sof = b"\xff\xd8" + b"\xff" + sof0 + b"\xff\xd9"
    stuffed_then_sof = b"\xff\xd8" + b"\xff\x00" + sof0 + b"\xff\xd9"
    assets = spark.createDataFrame(
        [
            (1, "image/jpeg", bytearray(fill_then_sof)),
            (2, "image/jpeg", bytearray(stuffed_then_sof)),
        ],
        "asset_id long, media_type string, content binary",
    )
    got = {
        r["asset_id"]: (r["width"], r["height"])
        for r in extract_metadata(assets).collect()
    }
    assert got[1] == (800, 600)
    assert got[2] == (800, 600)


def test_extract_metadata_real_wav_mp4_duration(spark):
    """Real duration/sample-rate from generated WAV and MP4 byte
    strings (RIFF fmt+data chunks; mvhd v0 and v1 boxes) — the same
    pure-Python header-parse spirit as the image dims; non-AV payloads
    get NULLs."""
    import struct

    from prueba_tecnica_analista_etl_spark.multimodal import (
        extract_metadata,
    )

    def wav(rate, seconds, channels=1, bits=16):
        block = channels * bits // 8
        byte_rate = rate * block
        data = b"\x00" * int(byte_rate * seconds)
        fmt = struct.pack(
            "<HHIIHH", 1, channels, rate, byte_rate, block, bits
        )
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def mp4(timescale, duration, version=0):
        if version == 0:
            mvhd_body = (
                b"\x00\x00\x00\x00"
                + struct.pack(">II", 0, 0)  # creation, modification
                + struct.pack(">II", timescale, duration)
                + b"\x00" * 80
            )
        else:
            mvhd_body = (
                b"\x01\x00\x00\x00"
                + struct.pack(">QQ", 0, 0)
                + struct.pack(">I", timescale)
                + struct.pack(">Q", duration)
                + b"\x00" * 80
            )
        mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
        moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
        ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom\x00\x00\x02\x00"
        return ftyp + moov

    assets = spark.createDataFrame(
        [
            (1, "audio/wav", bytearray(wav(8000, 2.5))),
            (2, "video/mp4", bytearray(mp4(1000, 7500, version=0))),
            (3, "video/mp4", bytearray(mp4(600, 1200, version=1))),
            (4, "audio/wav", bytearray(b"no riff magic here")),
        ],
        "asset_id long, media_type string, content binary",
    )
    got = {
        r["asset_id"]: (r["duration_s"], r["sample_rate"])
        for r in extract_metadata(assets).collect()
    }
    assert got[1] == (pytest.approx(2.5), 8000)
    assert got[2] == (pytest.approx(7.5), None)
    assert got[3] == (pytest.approx(2.0), None)
    assert got[4] == (None, None)


def test_extract_metadata_wav_truncated_data_chunk(spark):
    """A WAV whose data chunk header declares far more bytes than the
    payload carries must report the duration of the bytes actually
    present, not hours of phantom audio."""
    import struct

    from prueba_tecnica_analista_etl_spark.multimodal import (
        extract_metadata,
    )

    rate, block = 8_000, 2
    byte_rate = rate * block
    fmt = struct.pack("<HHIIHH", 1, 1, rate, byte_rate, block, 16)
    # declares 4 GB of data, carries byte_rate bytes (1 s of audio)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0xFFFFFFF0) + b"\x00" * byte_rate
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    assets = spark.createDataFrame(
        [(1, "audio/wav", bytearray(payload))],
        "asset_id long, media_type string, content binary",
    )
    row = extract_metadata(assets).collect()[0]
    assert row["duration_s"] == pytest.approx(1.0)
    assert row["sample_rate"] == rate


def test_ann_ivf_exact_when_probing_all_and_recall(spark, sf_dir):
    """The on-disk IVF index q_ann_ivf reads, probed with nprobe == k,
    degrades to exact brute force (same rows, same similarities as
    q_similarity_topk); at the query's nprobe=4 the deterministic
    recall is 9/10 on this corpus — asserted at a 0.8 floor."""
    from prueba_tecnica_analista_etl_spark.operators.ivf_index import (
        ivf_search_index,
    )
    from prueba_tecnica_analista_etl_spark.stages.vectors import (
        IVF_K,
        cached_ivf_index,
    )

    brute = [
        (r["vec_id"], r["cos_sim"])
        for r in REGISTRY["q_similarity_topk"].fn(spark, sf_dir).collect()
    ]
    qv = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .first()["embedding"]
    )
    path = cached_ivf_index(spark, sf_dir)
    full = [
        (r["vec_id"], r["cos_sim"])
        for r in ivf_search_index(
            spark, path, qv, nprobe=IVF_K, topk=10, exclude_id=0
        ).collect()
    ]
    assert full == brute

    probed = {
        r["vec_id"] for r in REGISTRY["q_ann_ivf"].fn(spark, sf_dir).collect()
    }
    recall = len(probed & {v for v, _ in brute}) / len(brute)
    assert recall >= 0.8


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing guarantee: any two docs sharing a run of
    k+w-1 = 6 tokens share at least one fingerprint; disjoint docs
    share none."""
    from prueba_tecnica_analista_etl_spark.functions.text import (
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} and a tail of text"),
            (2, f"{shared} completely different continuation tokens"),
            (3, "nothing in common with the others at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in docs.select(
            "doc_id",
            winnow_fingerprints(F.col("text")).alias("fps"),
        ).collect()
    }
    assert fps[1] & fps[2]          # shared 6-token run -> shared fp
    assert not (fps[1] & fps[3])    # disjoint docs share nothing
    assert not (fps[2] & fps[3])


def test_near_dup_purge_fixpoint_keeps_chain_tail(spark, monkeypatch):
    """Planted chain A~B, B~C with A≁C: one-shot greedy would drop
    both B and C; the fixpoint purge re-admits C (its only near-dup B
    is itself dead). Also: a genuine pair still loses its doc_b, and
    no surviving pair remains even past the round cap (enforcement
    pass) on a chain longer than `PURGE_ROUNDS`."""
    from prueba_tecnica_analista_etl_spark.stages import dedup
    from prueba_tecnica_analista_etl_spark.stages.dedup import near_dup_purge

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 9)], "doc_id long, text string"
    )
    # chain 1-2-3 (1≁3), isolated pair (5,6)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    alive = {
        r["doc_id"] for r in near_dup_purge(docs, pairs).collect()
    }
    assert alive == {1, 3, 4, 5, 7, 8}  # C(=3) survives; 2 and 6 drop

    # an endpoint ABSENT from docs imposes no constraint: pair (0, 7)
    # where doc 0 was removed upstream (quality gate / exact dedup)
    # must NOT purge 7 — the ghost competitor is not in the corpus.
    ghost = spark.createDataFrame([(0, 7)], "doc_a long, doc_b long")
    alive_g = {
        r["doc_id"] for r in near_dup_purge(docs, ghost).collect()
    }
    assert 7 in alive_g and alive_g == {1, 2, 3, 4, 5, 6, 7, 8}

    # chain 1-2-3-4-5-6-7-8 is deeper than 2 rounds: enforcement must
    # still leave no surviving pair, even if it over-purges the tail.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    monkeypatch.setattr(dedup, "PURGE_ROUNDS", 2)
    surv = {r["doc_id"] for r in near_dup_purge(docs, chain).collect()}
    assert 1 in surv
    for a, b in [(i, i + 1) for i in range(1, 8)]:
        assert not (a in surv and b in surv)


def test_curate_corpus_stage_invariants(spark, sf_dir):
    """The curation chain's invariants: monotone shrinking counts, no
    identical texts among survivors, no surviving near-dup pair, and
    the greedy rule keeps the min doc_id of every pair."""
    from prueba_tecnica_analista_etl_spark.pipelines.pretrain import (
        curate_corpus,
    )

    survivors, stats = curate_corpus(spark, sf_dir)
    assert (
        stats["input_docs"]
        >= stats["after_quality"]
        >= stats["after_exact_dedup"]
        >= stats["after_near_dup"]
    )
    assert stats["after_near_dup"] == survivors.count() > 0

    assert (
        survivors.groupBy("text").count().filter("count > 1").count()
        == 0
    )

    pairs = REGISTRY["q_minhash_dedup"].fn(spark, sf_dir).collect()
    alive = {r["doc_id"] for r in survivors.select("doc_id").collect()}
    for p in pairs:
        assert not (p["doc_a"] in alive and p["doc_b"] in alive)
        assert p["doc_b"] not in alive  # greedy min-id survivor


def test_near_dup_purge_stable_converges_without_over_purge(spark):
    """The eager fixpoint purge iterates past any chain depth: on an
    8-deep chain it converges to the alternating set with ZERO
    enforcement drops (the lazy fixed-round form would over-purge the
    tail), and the audit reports the rounds it took."""
    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        near_dup_purge_stable,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 9)], "doc_id long, text string"
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    survivors, audit = near_dup_purge_stable(docs, chain)
    alive = {r["doc_id"] for r in survivors.collect()}
    assert alive == {1, 3, 5, 7}  # exact alternating fixpoint
    assert audit["enforcement_over_purged"] == 0
    assert 1 <= audit["purge_rounds"] <= 10


def test_purge_identical_without_endpoint_broadcast(spark, monkeypatch):
    """The endpoint-frame broadcast in _restricted_pairs is a HINT,
    not a semantics carrier: with ENDPOINT_BROADCAST_MAX_ROWS forced
    to 0 (every semi-join falls back to its shuffle form — the path a
    duplicate-heavy corpus with executor-memory-sized |pairs| takes)
    both purge variants must return byte-identical survivor sets. A
    forced broadcast of a huge pair frame is a driver OOM, and the
    fallback must not change results."""
    from prueba_tecnica_analista_etl_spark.stages import dedup

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (0, 7)], "doc_a long, doc_b long"
    )

    def run_all():
        greedy = {
            r["doc_id"]
            for r in dedup.near_dup_purge(docs, pairs).collect()
        }
        stable, audit = dedup.near_dup_purge_stable(docs, pairs)
        return greedy, {r["doc_id"] for r in stable.collect()}, audit

    base = run_all()
    monkeypatch.setattr(dedup, "ENDPOINT_BROADCAST_MAX_ROWS", 0)
    forced = run_all()
    assert forced[:2] == base[:2]
    assert forced[2]["enforcement_over_purged"] == 0


def test_corpus_curate_second_build_reuses_pair_artifact(spark, sf_dir):
    """The candidate-pair DAG (the expensive stage) must execute at
    most once per (session, corpus): a SECOND q_corpus_curate
    construction reuses the memoized checkpointed frame, so its
    construction launches far fewer jobs than the cold one. (The
    eager materialize-once design is deliberate — see
    stages/dedup.py:_materialize for the measured lazy variants
    that lose 7-20x at sf0.1.)"""
    from prueba_tecnica_analista_etl_spark.artifacts import clear_artifacts
    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        _minhash_pairs_key,
    )

    sc = spark.sparkContext

    def n_jobs(tag):
        sc.setJobGroup(tag, tag)
        try:
            df = REGISTRY["q_corpus_curate"].fn(spark, sf_dir)
            return df, len(sc.statusTracker().getJobIdsForGroup(tag))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    clear_artifacts(name=_minhash_pairs_key())
    df_cold, cold = n_jobs("corpus-cold-build")
    df_warm, warm = n_jobs("corpus-warm-build")
    assert warm < cold
    assert df_warm.count() == df_cold.count() > 0


def test_pairs_cache_memoizes_and_clears(spark, sf_dir):
    """cached_minhash_pairs memoizes per (session, corpus) and
    clearing its artifact actually invalidates."""
    from prueba_tecnica_analista_etl_spark.artifacts import clear_artifacts
    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        _minhash_pairs_key,
        cached_minhash_pairs,
    )

    a = cached_minhash_pairs(spark, sf_dir)
    b = cached_minhash_pairs(spark, sf_dir)
    assert a is b
    clear_artifacts(spark, name=_minhash_pairs_key())
    c = cached_minhash_pairs(spark, sf_dir)
    assert c is not a
    clear_artifacts(name=_minhash_pairs_key())


def test_fingerprint_udfs_null_and_empty_safe(spark):
    """NULL text flows through the Arrow fingerprint UDFs as NULL
    output instead of crashing the task (np.asarray(None) / len(None)
    raised before), and an empty Arrow batch (possible after a
    selective filter) yields an empty result rather than a shape
    error in the matmul paths."""
    import numpy as np

    from prueba_tecnica_analista_etl_spark.functions.text import (
        shingle_hashes,
        simhash64,
        tokens,
        winnow_fingerprints,
    )
    from prueba_tecnica_analista_etl_spark.functions.vectors import (
        assign_clusters,
        random_hyperplanes,
        sign_bits,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, None), (3, "x y z")],
        "id long, text string",
    )
    got = {
        r["id"]: (r["w"], r["s"])
        for r in df.select(
            "id",
            winnow_fingerprints(F.col("text")).alias("w"),
            simhash64(shingle_hashes(tokens(F.col("text")), 2)).alias("s"),
        ).collect()
    }
    # NULL text never reaches the UDFs as a null array: concat_ws
    # swallows the null token array, so the shingle set degenerates to
    # [md5("")] — a deterministic sentinel row, not a crash
    import hashlib

    empty_md5 = hashlib.md5(b"").hexdigest()
    assert got[2][0] == [empty_md5] and got[2][1] is not None
    assert got[1][0] and got[1][1] is not None
    assert got[3][0] and got[3][1] is not None

    # a DIRECT null feature array (simhash64's public input type) must
    # propagate null, not crash in len(None)
    arrs = spark.createDataFrame(
        [(1, [7, 8, 9]), (2, None)], "id long, hs array<long>"
    )
    sim = {
        r["id"]: r["s"]
        for r in arrs.select(
            "id", simhash64(F.col("hs")).alias("s")
        ).collect()
    }
    assert sim[2] is None and sim[1] is not None

    vecs = spark.createDataFrame(
        [(1, [float(i) for i in range(64)])],
        "id long, v array<double>",
    )
    planes = random_hyperplanes(8, 64)
    C = np.eye(4, 64)
    empty = vecs.filter(F.col("id") < 0)  # empty frame -> empty batches
    assert empty.select(sign_bits(F.col("v"), planes)).count() == 0
    assert empty.select(assign_clusters(F.col("v"), C)).count() == 0
    assert (
        vecs.select(sign_bits(F.col("v"), planes).alias("s"))
        .first()["s"]
        is not None
    )


def test_training_export_composition(spark, sf_dir, tmp_path):
    """The training-prep operators COMPOSE over each other's outputs,
    chained through real table dirs (each stage reads the previous
    stage's parquet as its `documents` table): curate -> deterministic
    mixture sample -> chunk + pack, with conservation invariants at
    every boundary. This is the export pipeline a training run would
    actually execute, not isolated per-operator proofs."""
    from prueba_tecnica_analista_etl_spark.pipelines.pretrain import (
        curate_corpus,
    )

    survivors, stats = curate_corpus(spark, sf_dir)
    assert {"doc_id", "text", "source"} <= set(survivors.columns)
    stage1 = str(tmp_path / "curated")
    survivors.write.parquet(stage1 + "/documents.parquet")

    sample_ids = (
        REGISTRY["q_mixture_sample"].fn(spark, stage1).select("doc_id")
    )
    sampled = survivors.join(sample_ids, "doc_id", "left_semi")
    n_sampled = sampled.count()
    assert 0 < n_sampled <= stats["after_near_dup"]
    stage2 = str(tmp_path / "sampled")
    sampled.write.parquet(stage2 + "/documents.parquet")

    chunks = REGISTRY["q_doc_chunk"].fn(spark, stage2)
    assert chunks.select("doc_id").distinct().count() == n_sampled

    packs = REGISTRY["q_pack_sequences"].fn(spark, stage2)
    tok_total = packs.agg(F.sum("tokens")).first()[0]
    want_total = sampled.select(
        F.sum(F.size(F.split("text", " ")))
    ).first()[0]
    assert tok_total == want_total  # token conservation through packing


def test_multimodal_pipeline_topk_contract(spark, sf_dir):
    """The composed multimodal retrieval loop: exactly 10 rows, the
    probe asset excluded, similarities in [-1, 1] sorted descending
    with the deterministic tie-break, and the whole thing reproduces
    bit-identically on a second run (stub features are pure functions
    of payload bytes)."""
    from prueba_tecnica_analista_etl_spark.plans import REGISTRY

    a = REGISTRY["q_multimodal_pipeline"].fn(spark, sf_dir).collect()
    assert len(a) == 10
    assert all(r["asset_id"] != 1 for r in a)
    sims = [r["cos_sim"] for r in a]
    assert all(-1.0 <= s <= 1.0 for s in sims)
    assert sims == sorted(sims, reverse=True)
    b = REGISTRY["q_multimodal_pipeline"].fn(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_minhash_pair_frame_generic_api(spark):
    """The DataFrame-first near-dup operator works over any
    (doc_id, text) frame — planted near-identical pairs surface with
    canonical (doc_a < doc_b, jaccard_sim) output at the Jaccard gate,
    and unrelated rows do not pair."""
    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        minhash_pair_frame,
        shingle_frame,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (101, base),
        (102, base + " lambda"),                     # near-dup of 101
        (103, "totally different words entirely here now ok fine yes"),
        (104, base.replace("alpha", "omega")),        # weaker overlap
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard_sim"]
        for r in minhash_pair_frame(shingle_frame(corpus)).collect()
    }
    assert (101, 102) in got
    assert all(v >= 0.5 for v in got.values())
    assert all(103 not in pair for pair in got)
    assert all(a < b for a, b in got)


def test_similarity_operators_generic_api(spark, sf_dir):
    """The DataFrame-first similarity operators: cosine_topk over a
    caller-named frame matches the declared brute-force query's
    results on the embeddings table, and cosine_topk_batch respects
    k and self-exclusion."""
    from prueba_tecnica_analista_etl_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).first()["embedding"]

    got = cosine_topk(
        emb.filter(F.col("vec_id") != 0), list(probe), k=10
    ).collect()
    want = REGISTRY["q_similarity_topk"].fn(spark, sf_dir).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == [
        (r["vec_id"], r["cos_sim"]) for r in want
    ]

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    batch = cosine_topk_batch(emb, q, k=2).collect()
    assert {r["q_id"] for r in batch} == {0, 1, 2}
    for r in batch:
        assert r["vec_id"] != r["q_id"]  # self excluded
    per_q = {}
    for r in batch:
        per_q.setdefault(r["q_id"], []).append(r["cos_sim"])
    assert all(len(v) == 2 and v == sorted(v, reverse=True)
               for v in per_q.values())


def test_simhash_and_ngram_pair_frames_generic_api(spark):
    """The remaining LSH families' DataFrame-first operators over any
    (doc_id, text) frame: a planted near-identical pair surfaces from
    both, an unrelated row pairs with neither, and simhash's hamming
    bound is honored."""
    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        ngram_pair_frame,
        shingle_frame,
        simhash_pair_frame,
    )

    words = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon "
    )
    base = (words * 5).strip()  # long doc: stable majority signature
    corpus = spark.createDataFrame(
        [
            (7, base),
            (8, base + " extra"),
            (9, "unrelated totally different text with other words"),
        ],
        "doc_id long, text string",
    )
    sim = simhash_pair_frame(shingle_frame(corpus)).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in sim} == {(7, 8)}
    assert all(r["hamming"] <= 8 for r in sim)

    ng = ngram_pair_frame(shingle_frame(corpus)).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in ng} == {(7, 8)}
    assert all(r["jaccard_sim"] > 0.5 for r in ng)


def test_lsh_recall_audit_invariants(spark, sf_dir):
    """found ⊆ truth must make the audit's recall a true fraction:
    0 <= n_found <= n_true, n_missed complements, and the harness
    corpus's near-identical duplicate families (jaccard ≈ 1, where
    banding probability ≈ 1) must be fully recalled."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_scale import (
        q_lsh_recall,
    )

    row = q_lsh_recall(spark, sf_dir).collect()[0]
    assert row["n_true"] > 0
    assert 0 <= row["n_found"] <= row["n_true"]
    assert row["n_missed"] == row["n_true"] - row["n_found"]
    assert row["recall"] == row["n_found"] / row["n_true"]
    # The harness corpus's duplicate families are near-identical
    # (jaccard ~ 1), where banding probability ~ 1 — but a regenerated
    # fixture may legitimately carry a few mid-band (0.5-0.9) pairs
    # the 4x3 banding can miss, so pin high recall, not perfection.
    assert row["recall"] >= 0.9


def test_ann_recall_audit_invariants(spark, sf_dir):
    """The ANN audit is a SWEEP: three operating
    points per tier against a 10-deep exact truth, exactly one point
    per tier marked as the shipped config (and carrying the shipped
    constants), recall the exact hit fraction everywhere, and recall
    MONOTONE in the knob within each tier — widening the radius /
    probing more clusters can only add candidates, so a non-monotone
    recall means the points aren't filtering one shared frame. IVF's
    exact re-rank over probed clusters must stay high-recall at
    harness scale; the sign-LSH radius was set (128-bit words,
    hamming<=55) after this sweep measured the 16-bit point at
    recall@10 = 0.2 — on the tiny sf0.001 corpus the shipped recall
    may still be modest (too few vectors inside any radius), so the
    >=0.8 gate lives in the sf0.1 test below. n_candidates (the
    per-point scan cost) must be monotone in the knob within each
    tier — a wider radius / more probes can only admit more
    candidates."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_scale import (
        q_ann_recall,
    )
    from prueba_tecnica_analista_etl_spark.stages.vectors import (
        IVF_K,
        IVF_NPROBE,
        LSH_HAMMING,
        ann_sweep_parts,
    )

    frame = q_ann_recall(spark, sf_dir)
    # The IVF tier must audit the ON-DISK index:
    # its scan's cluster predicate is a PARTITION filter (directory
    # pruning), not a post-scan data filter. q_ann_recall stages the
    # census built from the swept top-10 frame per corpus, which
    # erases the scan from ITS plan — so pin the LIVE sweep
    # construction the staging builds from (ann_sweep_parts is that
    # single source of truth).
    live_top = ann_sweep_parts(spark, sf_dir)[1]
    plan = live_top._jdf.queryExecution().executedPlan().toString()
    pfs = [
        seg.split("]")[0]
        for seg in plan.split("PartitionFilters: [")[1:]
    ]
    assert any("cluster" in pf for pf in pfs), plan
    rows = frame.collect()
    by_tier: dict = {}
    for r in rows:
        by_tier.setdefault(r["method"], []).append(r)
    assert set(by_tier) == {"sign_lsh", "ivf_disk", "int8_quant"}
    for tier, pts in by_tier.items():
        assert len(pts) == (1 if tier == "int8_quant" else 3), tier
        shipped = [p for p in pts if p["shipped"]]
        assert len(shipped) == 1, tier
        for p in pts:
            assert p["n_exact"] == 10
            assert 0 <= p["n_hit"] <= p["n_exact"]
            assert p["recall"] == p["n_hit"] / p["n_exact"]
            # a point's hits came FROM its candidate set
            assert p["n_candidates"] >= p["n_hit"]
        recalls = [p["recall"] for p in pts]  # registry order: knob asc
        assert recalls == sorted(recalls), (tier, recalls)
        cands = [p["n_candidates"] for p in pts]
        assert cands == sorted(cands), (tier, cands)
    assert (
        by_tier["sign_lsh"][0]["operating_point"] != by_tier["sign_lsh"][1]["operating_point"]
    )
    shipped_lsh = next(p for p in by_tier["sign_lsh"] if p["shipped"])
    assert shipped_lsh["operating_point"] == f"hamming<={LSH_HAMMING}"
    shipped_ivf = next(p for p in by_tier["ivf_disk"] if p["shipped"])
    assert shipped_ivf["operating_point"] == f"nprobe={IVF_NPROBE}/{IVF_K}"
    assert shipped_ivf["recall"] >= 0.8
    # int8 compressed-scan tier: no prefilter, so its candidate
    # count is the whole probe-excluded corpus — strictly the largest
    # in the table — and its recall isolates pure quantization error
    quant = by_tier["int8_quant"][0]
    assert quant["n_candidates"] >= max(
        p["n_candidates"] for p in by_tier["sign_lsh"]
    )
    assert quant["recall"] >= 0.8


def test_shipped_lsh_recall_at_sf01(spark):
    """At sf0.1 the SHIPPED sign-LSH operating point's sweep row must
    report recall@10 >= 0.8 with its candidate-count cost logged. The
    shipped point (128-bit 4x32-word signatures, hamming<=55) measures 1.0
    with ~14%% of the 2k-vector corpus as candidates; this pins the
    gate so a future re-tune (or regenerated planes) cannot silently
    ship an under-recalling retrieval tier again. sf0.1 because the
    radius/recall trade is corpus-density-dependent — the sf0.001
    500-vector corpus is too sparse for ANY radius to clear 0.8
    without scanning most of it (swept and documented)."""
    import os

    from prueba_tecnica_analista_etl_spark.plans.extensions_scale import (
        q_ann_recall,
    )

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.1 testdata not present")
    rows = q_ann_recall(spark, sf01).collect()
    shipped = next(
        r for r in rows if r["method"] == "sign_lsh" and r["shipped"]
    )
    assert shipped["recall"] >= 0.8, shipped
    assert shipped["n_candidates"] > 0
    # the point must stay a genuine prefilter, not a full scan in
    # disguise: candidates < half the corpus (2000 vectors at sf0.1)
    assert shipped["n_candidates"] < 1000, shipped


def test_embed_quantize_semantics(spark, sf_dir):
    """q_embed_quantize: the int8 quantized-retrieval tier.
    Pins (a) the quantized cosine tracks the exact cosine within the
    int8 error budget on every emitted rank (|Δ| <= 0.01 — measured
    ~0.003 on the harness corpora), (b) values stay genuine int8
    range (the storage claim), (c) a zero vector survives the scale
    guard instead of dividing by zero."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_scale import (
        q_embed_quantize,
    )

    rows = q_embed_quantize(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert abs(r["cos_q"] - r["cos_exact"]) <= 0.01, r
    # int8 range: recompute the quantization on raw vectors
    import numpy as np

    import duckdb

    con = duckdb.connect()
    V = np.array(
        [
            r[0]
            for r in con.execute(
                f"SELECT embedding FROM '{sf_dir}/embeddings.parquet'"
            ).fetchall()
        ],
        dtype=np.float64,
    )
    con.close()
    sc = 127.0 / np.maximum(np.abs(V).max(axis=1), 1e-12)
    Q = np.floor(V * sc[:, None] + 0.5)
    assert Q.min() >= -128 and Q.max() <= 127

    # zero vector: the greatest(maxabs, 1e-12) guard quantizes it to
    # all-zero ints and the cosine degenerates to NULL, not a crash
    z = spark.createDataFrame(
        [(0, [1.0] * 64), (1, [0.0] * 64)],
        "vec_id long, embedding array<double>",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        z.write.parquet(f"{td}/embeddings.parquet")
        out = q_embed_quantize(spark, td).collect()
    assert len(out) == 1 and out[0]["vec_id"] == 1
    assert out[0]["cos_q"] is None  # 0/0 — honest, not fabricated


def test_sign_words_matches_sign_bits_and_validates(spark):
    """sign_words is sign_bits generalized past 64 planes: for
    n_planes <= bits_per_word the single word must equal the
    sign_bits long exactly (same grid, same packing), per-word values
    stay inside 2^bits_per_word, and the contract errors (non-±1
    planes, dimension mismatch) raise eagerly."""
    import numpy as np

    from prueba_tecnica_analista_etl_spark.functions.vectors import (
        random_hyperplanes,
        sign_bits,
        sign_words,
    )

    vecs = spark.createDataFrame(
        [(i, [float(j % 7) - 3.0 + i * 0.1 for j in range(64)]) for i in range(5)],
        "id long, v array<double>",
    )
    planes16 = random_hyperplanes(16, 64)
    both = vecs.select(
        sign_bits(F.col("v"), planes16).alias("b"),
        sign_words(F.col("v"), planes16, 32).alias("w"),
    ).collect()
    for r in both:
        assert len(r["w"]) == 1 and r["w"][0] == r["b"]

    planes128 = random_hyperplanes(128, 64)
    words = vecs.select(
        sign_words(F.col("v"), planes128, 32).alias("w")
    ).collect()
    for r in words:
        assert len(r["w"]) == 4
        assert all(0 <= w < (1 << 32) for w in r["w"])
    # the first 32 planes of the seeded sequence are a prefix — word 0
    # must agree between the 128-plane and a 32-plane signature
    w32 = vecs.select(
        sign_words(F.col("v"), planes128[:32], 32).alias("w")
    ).collect()
    assert [r["w"][0] for r in words] == [r["w"][0] for r in w32]

    with pytest.raises(ValueError, match="±1 hyperplanes"):
        sign_words(F.col("v"), [[0.5] * 64])
    with pytest.raises(ValueError, match="signed-64"):
        sign_words(F.col("v"), planes16, 63)
    empty = vecs.filter(F.col("id") < 0)
    assert empty.select(sign_words(F.col("v"), planes16)).count() == 0
    # dim mismatch surfaces as the documented executor-side error
    bad = spark.createDataFrame([(1, [1.0, 2.0])], "id long, v array<double>")
    with pytest.raises(Exception, match="embedding dim"):
        bad.select(sign_words(F.col("v"), planes16)).collect()


def test_ivf_on_disk_index_search_prunes_and_matches_brute(
    spark, sf_dir, tmp_path
):
    """The IVF SCALE layout (operators/ivf_index.py): corpus written
    partitionBy(cluster) + centroid sidecar. Three properties:
    (1) nprobe == k degrades to exact brute force (same rows, same
    rounded cosines as cosine_topk over the source table);
    (2) the probe predicate is a PARTITION filter (directory pruning),
    not a post-scan data filter;
    (3) execution-level proof: corrupting every UNPROBED cluster leaf
    leaves the pruned search's answer intact — its scan never opens
    those files, which is the read-nprobe/k-of-the-bytes property an
    in-plan cluster filter cannot provide."""
    import glob
    import os

    from prueba_tecnica_analista_etl_spark.operators.ivf_index import (
        DATA,
        ivf_probe_clusters,
        ivf_read_model,
        ivf_search_index,
        ivf_write_index,
    )
    from prueba_tecnica_analista_etl_spark.operators.similarity import (
        cosine_topk,
    )
    from prueba_tecnica_analista_etl_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    k = 8
    centroids = ivf_write_index(emb, path, k=k, iters=2)
    assert centroids.shape[0] == k
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]

    def rows(df):
        return [(r["vec_id"], r["cos_sim"]) for r in df.collect()]

    full = ivf_search_index(spark, path, query, nprobe=k, topk=10)
    assert rows(full) == rows(cosine_topk(emb, query, k=10))

    probes = ivf_probe_clusters(
        ivf_read_model(spark, path), query, nprobe=2
    )
    pruned = ivf_search_index(spark, path, query, nprobe=2, topk=10)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "cluster" in pf, plan
    assert "cluster" not in plan.split("PushedFilters: [")[1].split("]")[0]
    want = rows(pruned)
    assert want  # the probed partitions are non-empty

    leaves = glob.glob(os.path.join(path, DATA, "cluster=*"))
    assert len(leaves) > 2  # corruption target must exist
    for leaf in leaves:
        if int(leaf.rsplit("=", 1)[1]) in probes:
            continue
        for f in glob.glob(os.path.join(leaf, "*.parquet")):
            with open(f, "wb") as fh:
                fh.write(b"not a parquet file")
    again = ivf_search_index(spark, path, query, nprobe=2, topk=10)
    assert rows(again) == want  # pruned scan untouched by corruption

    # Schema-sidecar guarantee: the read must plan from
    # the persisted schema, never from footer inference — which opens
    # the lexicographically FIRST leaf (cluster=0) regardless of the
    # probe set. Corrupt cluster=0 outright and search a probe that
    # does not touch it.
    model = ivf_read_model(spark, path)
    for f in glob.glob(os.path.join(path, DATA, "cluster=0", "*.parquet")):
        with open(f, "wb") as fh:
            fh.write(b"garbage")
    intact = next(c for c in probes if c != 0)
    probe_vec = [float(x) for x in model[intact]]
    assert ivf_probe_clusters(model, probe_vec, 1) == [intact]
    res = ivf_search_index(spark, path, probe_vec, nprobe=1, topk=3)
    assert res.count() > 0


def test_md5_60_matches_duckdb_parse(spark):
    """The engine-neutral 60-bit hash (the near-dup family's
    oracle foundation) must be bit-identical between Spark's
    conv(substring(md5)) and DuckDB's ('0x'||substr(md5))::BIGINT —
    pinned on assorted strings including unicode, the empty string,
    and seeded chunk-order keys, so an oracle regression here is
    caught by a unit test and not only by end-to-end parity."""
    import duckdb

    from prueba_tecnica_analista_etl_spark.functions.text import (
        md5_60,
        sql_md5_60,
    )

    vals = [
        "", "a", "abc", "the quick brown fox", "0:42", "3:doc-9",
        "café au lait", "ñandú 草書", "7:123456789",
    ]
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "s string")
        .select("s", md5_60(F.col("s")).alias("h"))
        .collect()
    }
    con = duckdb.connect()
    for v in vals:
        want = con.execute(
            f"SELECT {sql_md5_60('?')}", [v]
        ).fetchone()[0]
        assert got[v] == want, v
        assert 0 <= got[v] < (1 << 60)
    con.close()


def test_minhash_family_int64_safe_and_matches_reference():
    """The seeded Mersenne-prime minhash family must (a) keep every
    intermediate strictly inside int64 for ANY 60-bit input — the
    property that makes it exact in Spark, DuckDB, and the oracle
    literals — and (b) match an independent big-int reference."""
    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        MINHASH_COEFFS,
        MINHASH_P,
        _LOW30,
    )

    worst = (1 << 60) - 1
    for a, b, c in MINHASH_COEFFS:
        assert 1 <= a < (1 << 30) and 1 <= b < (1 << 30)
        assert 1 <= c < (1 << 30)
        # worst-case intermediate before the mod
        assert a * (worst & _LOW30) + b * (worst >> 30) + c < (1 << 63)
    # independent reference (python big ints never overflow)
    h = 648541476951500027  # md5_60("abc")
    a, b, c = MINHASH_COEFFS[3]
    assert (a * (h & _LOW30) + b * (h >> 30) + c) % MINHASH_P == (
        (a * (h % (1 << 30)) + b * (h // (1 << 30)) + c)
        % ((1 << 61) - 1)
    )


def test_capped_chunk_sql_twin_on_oversized_bucket(spark):
    """capped_pair_array's skew sub-split must equal the oracle's
    row_number()-over-md5_60 chunking for a bucket LARGER than the
    cap — the harness corpora rarely exercise oversized buckets, so
    the subtlest oracle equivalence gets its own synthetic pin: 150
    one-token docs (one shared min-shingle bucket) through the real
    q_ngram_jaccard frame vs the generated SQL on the same data."""
    import duckdb

    from prueba_tecnica_analista_etl_spark.plans.extensions_scale import (
        _ngram_oracle_sql,
    )
    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        ngram_pair_frame,
        shingle_frame,
    )

    docs = spark.createDataFrame(
        [(i, "same text everywhere") for i in range(150)],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_a"], r["doc_b"], r["jaccard_sim"])
        for r in ngram_pair_frame(shingle_frame(docs)).collect()
    )
    con = duckdb.connect()
    con.register(
        "documents",
        docs.toPandas(),
    )
    sql = _ngram_oracle_sql().replace("LIMIT 100", "LIMIT 100000")
    want = sorted(tuple(t) for t in con.execute(sql).fetchall())
    con.close()
    # one 150-member bucket: 3 chunks of <=64, intra-chunk pairs only
    assert len(got) > 0
    full = 150 * 149 // 2
    assert len(got) < full, "cap must prune cross-chunk pairs"
    assert got == want


def test_stream_neardup_equals_batch_greedy_fixpoint(spark, sf_dir):
    """The streaming near-dup gate's drained accepted set must equal
    the batch greedy min-id survivor FIXPOINT (near_dup_purge_stable)
    over the same corpus and pair frame — the sequential-equivalence
    claim its oracle rests on — and re-invoking the query must be a
    fixpoint (the committed-batch ledger makes replays no-ops). The
    audit also guards the oracle's unroll margin: the measured
    alternating-chain depth must stay at or below HALF the rounds the
    generated SQL unrolls (the guard is what keeps the
    fixed unroll from going silently wrong on a deeper corpus)."""
    from prueba_tecnica_analista_etl_spark.plans.extensions_scale import (
        STREAM_NEARDUP_UNROLL,
    )
    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        near_dup_purge_stable,
    )
    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        minhash_band_frame,
        pairs_from_band_frame,
        shingle_frame,
    )

    got = {
        r["doc_id"]
        for r in REGISTRY["q_stream_neardup"].fn(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    # UNCAPPED pair frame: the gate's contract is exhaustive within a
    # bucket (the at-rest tiers' skew chunking is an output-bounding
    # device the gate deliberately does not inherit)
    surv, audit = near_dup_purge_stable(
        docs, pairs_from_band_frame(
            minhash_band_frame(shingle_frame(docs)), cap=None
        )
    )
    want = {r["doc_id"] for r in surv.select("doc_id").collect()}
    assert got == want
    assert audit["enforcement_over_purged"] == 0
    assert audit["purge_rounds"] <= STREAM_NEARDUP_UNROLL // 2, (
        "corpus chain depth exceeds the oracle's unroll margin — "
        "raise STREAM_NEARDUP_UNROLL"
    )
    # replay fixpoint: a second drain applies zero batches and
    # returns the identical accepted set
    again = {
        r["doc_id"]
        for r in REGISTRY["q_stream_neardup"].fn(spark, sf_dir).collect()
    }
    assert again == got


def test_stream_neardup_index_compaction_long_replay(
    spark, tmp_path, monkeypatch
):
    """Long-replay compaction gate: 24
    micro-batches through foreach_batch_neardup_gate must keep the
    index's unit-directory count BOUNDED (folds into gen-* past
    COMPACT_MAX_UNITS instead of growing one dir pair per batch),
    while (1) the accepted set stays exactly the batch greedy
    fixpoint over the whole replayed corpus, (2) a kill/restart-style
    replay of already-committed batch ids — including ids whose own
    dirs a fold removed — is a no-op with a byte-identical accepted
    set, and (3) a crash BETWEEN the generation rename and the folded
    units' removal (duplicate rows across units) is harmless to
    readers and healed by the next fold."""
    import os
    import shutil

    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        near_dup_purge_stable,
    )
    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        minhash_band_frame,
        pairs_from_band_frame,
        shingle_frame,
    )
    from prueba_tecnica_analista_etl_spark.streaming.neardup import (
        COMPACT_MAX_UNITS,
        _committed,
        accepted_ids,
        foreach_batch_neardup_gate,
    )

    def doc_batch(batch_id: int, per_batch: int = 8):
        # every 4th doc repeats an earlier text → cross-batch
        # near-dups the index must catch; the rest are unique
        rows = []
        for i in range(per_batch):
            doc_id = batch_id * per_batch + i
            fam = doc_id % 4 == 3
            seed = (doc_id // 16) if fam else doc_id
            kind = "family repeated" if fam else f"unique {seed} payload"
            rows.append(
                (
                    doc_id,
                    f"document text {kind} alpha beta gamma delta "
                    f"epsilon zeta {'' if fam else seed}",
                )
            )
        return spark.createDataFrame(rows, "doc_id long, text string")

    index_dir = str(tmp_path / "gate-index")
    gate = foreach_batch_neardup_gate(
        index_dir,
        band_frame=lambda b: minhash_band_frame(shingle_frame(b)),
        pairs_from_bands=lambda banded, thr: pairs_from_band_frame(
            banded, threshold=thr, cap=None
        ),
        threshold=MINHASH_JACCARD_T,
    )
    from prueba_tecnica_analista_etl_spark.streaming.neardup import (
        COMPACT_MAX_GENS,
    )

    n_batches = 24
    max_seen = 0
    for b in range(n_batches):
        gate(doc_batch(b), b)
        units = _committed(index_dir)
        max_seen = max(max_seen, len(units))
        # bounded at all times: tier-1 folds loose batches past
        # COMPACT_MAX_UNITS, tier-2 merges generations past
        # COMPACT_MAX_GENS — so the unit count can never exceed the
        # two caps plus the one batch dir committed this call
        assert len(units) <= COMPACT_MAX_UNITS + COMPACT_MAX_GENS, (
            b,
            units,
        )
    assert max_seen > COMPACT_MAX_UNITS - 2  # the fold actually ran
    assert any(
        os.path.basename(u).startswith("gen-")
        for u in _committed(index_dir)
    )

    got = {r["doc_id"] for r in accepted_ids(spark, index_dir).collect()}
    corpus = doc_batch(0)
    for b in range(1, n_batches):
        corpus = corpus.unionByName(doc_batch(b))
    surv, _ = near_dup_purge_stable(
        corpus, pairs_from_band_frame(
            minhash_band_frame(shingle_frame(corpus)), cap=None
        )
    )
    want = {r["doc_id"] for r in surv.select("doc_id").collect()}
    assert got == want

    # kill/restart replay: re-apply a folded-away batch id (0), a
    # surviving one, and the newest — all must be no-ops
    for b in (0, n_batches - 2, n_batches - 1):
        gate(doc_batch(b), b)
    again = {r["doc_id"] for r in accepted_ids(spark, index_dir).collect()}
    assert again == got

    # crash window: duplicate one unit's data under a fake batch dir
    # (as if the fold renamed the generation but died mid-removal) —
    # readers must not double-admit, and the next fold heals it
    units = _committed(index_dir)
    clone_src = units[0]
    clone = os.path.join(index_dir, f"batch-{n_batches + 5:09d}")
    shutil.copytree(clone_src, clone)
    dup_read = {
        r["doc_id"] for r in accepted_ids(spark, index_dir).collect()
    }
    assert dup_read == got
    from prueba_tecnica_analista_etl_spark.streaming import neardup
    from prueba_tecnica_analista_etl_spark.streaming.neardup import (
        compact_index,
    )

    # tier 1 (fold loose batches incl. the clone) + tier 2 (merge the
    # accumulated generations down to one) in a single tight-threshold
    # call — both fold paths execute, accepted set byte-identical
    monkeypatch.setattr(neardup, "COMPACT_MAX_UNITS", 1)
    monkeypatch.setattr(neardup, "COMPACT_MAX_GENS", 1)
    assert compact_index(spark, index_dir)
    healed = {
        r["doc_id"] for r in accepted_ids(spark, index_dir).collect()
    }
    assert healed == got
    assert len(_committed(index_dir)) == 1
    # a replayed batch id stays a committed no-op behind the merged
    # generation, and the set survives one more degenerate compaction
    gate(doc_batch(0), 0)
    assert not compact_index(spark, index_dir)
    assert {
        r["doc_id"] for r in accepted_ids(spark, index_dir).collect()
    } == got


def test_stream_neardup_uncapped_on_oversized_bucket(spark, tmp_path):
    """A dup family LARGER than BUCKET_CAP must collapse to exactly
    ONE survivor through the gate — the uncapped-within-bucket
    contract. The capped at-rest pair frame would keep one survivor
    per skew chunk (several), so this pins the deliberate semantic
    difference between the gate and the chunked batch tiers, AND
    pins the gate's oracle (uncapped purge unroll) on the same
    corpus."""
    import duckdb

    from prueba_tecnica_analista_etl_spark.stages.dedup import BUCKET_CAP

    n = 2 * BUCKET_CAP + 22  # 150: three skew chunks in the capped tier
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact text repeated in every document row").alias(
            "text"
        ),
        F.lit("en").alias("lang"),
        F.lit(50).alias("n_chars"),
    )
    skew_dir = str(tmp_path / "skew_sf")
    docs.write.parquet(f"{skew_dir}/documents.parquet")
    out = REGISTRY["q_stream_neardup"].fn(spark, skew_dir).collect()
    assert [(r["doc_id"], r["lang"]) for r in out] == [(0, "en")]
    # the registered oracle agrees on the same synthetic corpus
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = con.execute(REGISTRY["q_stream_neardup"].oracle).fetchall()
    con.close()
    assert want == [(0, "en")]


def test_unicode_normalize_parity_on_mixed_corpus(spark, tmp_path):
    """q_unicode_normalize's REAL path: the all-ASCII harness corpus
    only exercises the zero-Python-rows fast branch, so this fixture
    writes a mixed corpus — decomposed accents (NFC composes them),
    precomposed accents (NFC-invariant), CJK, an astral-plane emoji
    (surrogate pair in the JVM — the rlike prefilter must still
    classify it non-ASCII), NULL text, and plain ASCII — and proves
    the engine hash-exact against DuckDB's utf8proc-backed
    nfc_normalize (NFC composition tables are frozen by Unicode's
    stability policy, so CPython's unicodedata agrees byte-for-byte).
    Also pins the split: the ArrowEvalPython stage's input is the
    non-ASCII filter, never the full corpus."""
    import duckdb

    dec = "é"  # e + COMBINING ACUTE: NFC composes to é (saves 1)
    rows = [
        (0, f"caf{dec} cr{dec}me", "fr"),
        (1, "café plain precomposed", "fr"),
        (2, "hello pure ascii", "en"),
        (3, "漢字 text with cjk", "zh"),
        (4, "emoji \U0001f600 astral", "en"),
        (5, None, "en"),
        (6, "Å ring composes", "sv"),  # A + COMBINING RING -> Å
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    d = str(tmp_path / "uni_sf")
    docs.write.parquet(f"{d}/documents.parquet")
    spec = REGISTRY["q_unicode_normalize"]
    got = [tuple(r) for r in spec.fn(spark, d).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        # Spark writes a part-file DIRECTORY; glob inside it
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = con.execute(spec.oracle).fetchall()
    con.close()
    assert got == [tuple(r) for r in want]
    by_lang = {r[0]: r[1:] for r in got}
    # fr: 2 docs, both non-ascii, ONE changes (decomposed), 2 saved
    assert by_lang["fr"] == (2, 2, 1, 2)
    # sv: combining ring composes -> 1 changed, 1 saved
    assert by_lang["sv"] == (1, 1, 1, 1)
    # en: 3 docs (emoji non-ascii unchanged; NULL counted, unchanged)
    assert by_lang["en"] == (3, 1, 0, 0)
    assert by_lang["zh"] == (1, 1, 0, 0)

    # the Python stage's input is the FILTERED sliver, not the corpus
    plan = (
        spec.fn(spark, d)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan
    arrow_subtree = plan.split("ArrowEvalPython", 1)[1]
    assert "RLIKE" in arrow_subtree or "rlike" in arrow_subtree, plan


def test_fold_units_retry_after_crash_lands_next_seq(
    spark, tmp_path, monkeypatch
):
    """A fold that crashed BETWEEN the generation rename
    and the folded batch dirs' removal must, on retry, land at the
    NEXT free sequence for that generation id (not re-target the
    existing dir, fail the rename, and repeat the full rewrite on
    every compact call). Also pins accepted_ids' snapshot contract:
    a frame handed out BEFORE a fold stays collectible after the
    fold removed the unit dirs it scanned."""
    import os

    from prueba_tecnica_analista_etl_spark.streaming import neardup
    from prueba_tecnica_analista_etl_spark.streaming.neardup import (
        _committed,
        _fold_units,
        accepted_ids,
        compact_index,
    )

    index_dir = str(tmp_path / "idx")
    os.makedirs(index_dir)

    def write_unit(name: str, ids: list[int]) -> None:
        base = os.path.join(index_dir, name)
        spark.createDataFrame(
            [(i, 0, i) for i in ids], "doc_id long, band int, key long"
        ).write.parquet(os.path.join(base, "keys"))
        spark.createDataFrame(
            [(i, [i]) for i in ids], "doc_id long, hs array<long>"
        ).write.parquet(os.path.join(base, "docs"))

    write_unit("batch-000000000", [0, 1])
    write_unit("batch-000000001", [2, 3])
    # the crashed fold: its generation landed, batch dirs survived
    write_unit("gen-000000001-1", [0, 1, 2, 3])

    units = [
        os.path.join(index_dir, "batch-000000000"),
        os.path.join(index_dir, "batch-000000001"),
    ]
    held = accepted_ids(spark, index_dir)  # snapshot taken pre-fold
    assert _fold_units(spark, index_dir, units)  # retry succeeds NOW
    names = sorted(os.path.basename(u) for u in _committed(index_dir))
    assert names == ["gen-000000001-1", "gen-000000001-2"]

    got = {r["doc_id"] for r in accepted_ids(spark, index_dir).collect()}
    assert got == {0, 1, 2, 3}
    # tier-2 merge removes both generation dirs; the held snapshot
    # must still collect (the lazy form threw FileNotFound here)
    monkeypatch.setattr(neardup, "COMPACT_MAX_UNITS", 1)
    monkeypatch.setattr(neardup, "COMPACT_MAX_GENS", 1)
    assert compact_index(spark, index_dir)
    assert len(_committed(index_dir)) == 1
    assert {r["doc_id"] for r in held.collect()} == {0, 1, 2, 3}


def test_gate_index_probe_partition_pruning(spark, tmp_path):
    """The gate's index ``keys/`` is written
    partitioned by kb = pmod(xxhash64(band, key), KB_BUCKETS) and the
    probe pushes its own kb values as a literal partition filter —
    the scan plan must show PartitionFilters pruning, the pruned read
    must equal the full read restricted to those buckets (equal
    (band, key) implies equal kb, so no candidate is lost)."""
    import os

    from prueba_tecnica_analista_etl_spark.stages.dedup import (
        minhash_band_frame,
        pairs_from_band_frame,
        shingle_frame,
    )
    from prueba_tecnica_analista_etl_spark.streaming.neardup import (
        _committed,
        _kb_col,
        foreach_batch_neardup_gate,
        read_index_keys,
    )

    index_dir = str(tmp_path / "idx")
    gate = foreach_batch_neardup_gate(
        index_dir,
        band_frame=lambda b: minhash_band_frame(shingle_frame(b)),
        pairs_from_bands=lambda b, t: pairs_from_band_frame(
            b, threshold=t, cap=None
        ),
        threshold=MINHASH_JACCARD_T,
    )
    docs = spark.createDataFrame(
        [
            (i, f"wholly unique document number {i} alpha beta gamma")
            for i in range(12)
        ],
        "doc_id long, text string",
    )
    gate(docs, 0)
    units = _committed(index_dir)
    assert units
    # the committed unit's keys are kb-partitioned on disk
    keys_dir = os.path.join(units[0], "keys")
    assert any(n.startswith("kb=") for n in os.listdir(keys_dir))

    full = read_index_keys(spark, units)
    probe_kbs = [3, 7, 11]
    pruned = read_index_keys(spark, units, probe_kbs=probe_kbs)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [kb" in plan and " IN (3,7,11)" in plan, plan

    def rows(df):
        return {
            (r["doc_id"], r["band"], r["key"]) for r in df.collect()
        }

    want = rows(
        full.withColumn("kb", _kb_col()).filter(
            F.col("kb").isin(probe_kbs)
        )
    )
    assert rows(pruned) == want


def test_pretrain_run_conservation_and_determinism(spark, sf_dir, tmp_path):
    """The flagship composition: quality gate →
    exact dedup → near-dup purge → benchmark holdout + 4-gram
    decontamination → md5-nibble split → ctx-window pack plan →
    hash-sharded manifest export, as ONE run. Pins (1) the
    conservation ledger the run itself enforces, (2) cross-checks
    against the independently-proven component queries (curate stats,
    split census), (3) determinism: a second run over the same corpus
    produces an identical ledger, (4) the manifest round-trips
    through verify_training_shards (done inside the run) and its
    shard files actually hold the train rows."""
    from prueba_tecnica_analista_etl_spark.pipelines.pretrain import (
        pretrain_run,
    )

    ledger = pretrain_run(
        spark, sf_dir, str(tmp_path / "run1"), n_shards=4
    )
    assert ledger["invariants_ok"]
    assert ledger["input_docs"] > 0
    # the semantic tier partitions the curation survivors FIRST,
    # then decontaminate partitions what it kept — one conservation
    # term per dedup tier. The harness corpus ships embeddings, so
    # the tier must have RUN (None would mean silently skipped).
    assert ledger["semdedup_purged"] is not None
    assert (
        ledger["after_near_dup"]
        == ledger["semdedup_purged"]
        + ledger["bench_held"]
        + ledger["contam_flagged"]
        + ledger["kept"]
    )
    # the advisory substring signal is present and sane
    sig = ledger["dup_span_signal"]
    assert sig["n_spans"] >= sig["n_dup_spans"] >= 0
    # split census re-derivable from the shipped split assignment
    assert (
        sum(v["docs"] for v in ledger["splits"].values()) == ledger["kept"]
    )
    tr = ledger["splits"].get("train", {"docs": 0, "tokens": 0})
    assert ledger["export"]["rows"] == tr["docs"]
    assert ledger["export"]["tokens"] == tr["tokens"]
    assert ledger["pack"]["tokens"] == tr["tokens"]

    # the exported shards really hold the train rows
    got = spark.read.parquet(
        ledger["export"]["path"] + "/data"
    ).count()
    assert got == tr["docs"]

    # determinism: same corpus, fresh output dir, identical ledger
    again = pretrain_run(
        spark, sf_dir, str(tmp_path / "run2"), n_shards=4
    )
    a, b = dict(ledger), dict(again)
    a["export"] = {k: v for k, v in a["export"].items() if k != "path"}
    b["export"] = {k: v for k, v in b["export"].items() if k != "path"}
    assert a == b


def test_pretrain_run_prefetch_overlaps_curation_in_callers_group(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The SemDeDup labels build on a worker thread that starts before
    curation returns, and every job the run launches, the worker's
    included, carries the caller's job group."""
    import threading
    import time

    from prueba_tecnica_analista_etl_spark.pipelines import pretrain

    caller = threading.get_ident()
    labels_calls, curate_returns = [], []
    labels_fn = pretrain.semdedup_labels
    curate_fn = pretrain.curate_corpus

    def labels(*args, **kwargs):
        labels_calls.append((threading.get_ident(), time.perf_counter()))
        return labels_fn(*args, **kwargs)

    def curate(*args, **kwargs):
        out = curate_fn(*args, **kwargs)
        curate_returns.append(time.perf_counter())
        return out

    monkeypatch.setattr(pretrain, "semdedup_labels", labels)
    monkeypatch.setattr(pretrain, "curate_corpus", curate)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("pretrain-test", "pretrain_run prefetch test")
    try:
        ledger = pretrain.pretrain_run(
            spark, sf_dir, str(tmp_path / "run"), n_shards=4
        )
    finally:
        for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{key}", None)
    assert ledger["invariants_ok"]
    assert len(curate_returns) == 1
    early = [
        t0
        for ident, t0 in labels_calls
        if ident != caller and t0 < curate_returns[0]
    ]
    assert len(early) == 1, labels_calls
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert tracker.getJobIdsForGroup("pretrain-test")


def test_pretrain_run_prefetch_failure_propagates(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A failing prefetch task fails the run with its own error, rather
    than hanging or returning a ledger, and leaves no worker behind."""
    import threading

    from prueba_tecnica_analista_etl_spark.pipelines import pretrain

    def broken(spark, sf_dir):
        raise RuntimeError("span census failed")

    monkeypatch.setattr(pretrain, "_span_signal", broken)
    before = set(threading.enumerate())
    outcome = {}

    def run():
        try:
            outcome["ledger"] = pretrain.pretrain_run(
                spark, sf_dir, str(tmp_path / "run"), n_shards=4
            )
        except Exception as exc:
            outcome["error"] = exc

    runner = threading.Thread(target=run, daemon=True)
    runner.start()
    runner.join(timeout=600)
    assert not runner.is_alive(), "pretrain_run hung"
    assert "ledger" not in outcome
    assert isinstance(outcome.get("error"), RuntimeError)
    assert "span census failed" in str(outcome["error"])
    workers = [
        t
        for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert workers == []


# ---------------------------------------------------------------------------
# SemDeDup (q_semdedup) and duplicate-span census (q_dup_spans)
# ---------------------------------------------------------------------------


def _planted_embeddings(spark, tmp_path):
    """Fixture corpus with PLANTED semantic-duplicate families (the
    real testdata plants none — max pairwise cos ~0.53): 16 seeded
    anchor directions (ids 0-15 become the seed medoids), a 3-copy
    identical family (20,21,22), a 2-copy identical family (30,31),
    and isolated noise vectors. Returns (dir, expectations)."""
    import random

    rng = random.Random(7)

    def vec(seed):
        r = random.Random(seed)
        return [r.uniform(-1.0, 1.0) for _ in range(64)]

    rows = [(i, vec(100 + i), 0) for i in range(16)]  # anchors/seeds
    fam_a = vec(500)
    rows += [(20, fam_a, 1), (21, fam_a, 1), (22, fam_a, 1)]
    fam_b = vec(600)
    rows += [(30, fam_b, 1), (31, fam_b, 1)]
    rows += [(40 + j, vec(700 + j), 0) for j in range(6)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "sem_sf")
    df.write.parquet(f"{d}/embeddings.parquet")
    return d, {"n_vecs": len(rows)}


def test_semdedup_purges_planted_families(spark, tmp_path):
    """Identical vectors quantize identically → same cluster, cosq=1.0
    pairs, one component per family → exactly family-size-minus-one
    purged per planted family; isolated vectors survive untouched.
    The census conserves: Σ n_vecs = corpus size, n_kept = n_vecs −
    n_purged everywhere, ≥1 representative survives per family."""
    d, exp = _planted_embeddings(spark, tmp_path)
    out = REGISTRY["q_semdedup"].fn(spark, d).collect()
    assert sum(r["n_vecs"] for r in out) == exp["n_vecs"]
    for r in out:
        assert r["n_kept"] == r["n_vecs"] - r["n_purged"]
        assert r["n_kept"] >= 0 and r["n_purged"] >= 0
    # the two planted families purge exactly (3-1) + (2-1) = 3 among
    # themselves; random 64-dim directions sit far below cosq 0.30,
    # so no other purges occur on this corpus
    assert sum(r["n_purged"] for r in out) == 3
    assert sum(r["n_dup_pairs"] for r in out) == 3 + 1

    # the purged ids are exactly the non-min family members
    from prueba_tecnica_analista_etl_spark.stages.vectors import (
        semdedup_labels,
    )

    labels = {
        r["node"]: r["comp"]
        for r in semdedup_labels(spark, d).collect()
    }
    assert labels == {20: 20, 21: 20, 22: 20, 30: 30, 31: 30}


def test_semdedup_fixture_oracle_parity(spark, tmp_path):
    """The planted-family fixture ALSO runs the DuckDB oracle — the
    engine-vs-SQL value equality holds on a corpus with real purges,
    not just the no-true-dup testdata."""
    import duckdb

    d, _ = _planted_embeddings(spark, tmp_path)
    spec = REGISTRY["q_semdedup"]
    got = [tuple(r) for r in spec.fn(spark, d).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert got == [tuple(r) for r in con.execute(spec.oracle).fetchall()]


def test_semdedup_census_conserves_vectors(spark, sf_dir):
    """The steady-state census (its native, funnel-free plan is the
    query's shape) conserves totals on the real corpus."""
    df = REGISTRY["q_semdedup"].fn(spark, sf_dir)
    rows = df.collect()
    import duckdb

    n = (
        duckdb.connect()
        .execute(
            f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
        )
        .fetchone()[0]
    )
    assert sum(r["n_vecs"] for r in rows) == n


def test_dup_spans_planted_shared_run(spark, tmp_path):
    """Two docs sharing an exact 16-token run produce duplicated
    spans; a short doc (<16 tokens) contributes none; a unique doc
    contributes only unique spans. Counts are exact and the DuckDB
    oracle agrees on the fixture."""
    import duckdb

    shared = " ".join(f"tok{i}" for i in range(16))
    rows = [
        (0, "srcA", f"{shared} tail0 tail1 tail2 tail3"),
        (1, "srcB", f"lead0 lead1 lead2 lead3 {shared}"),
        (2, "srcA", " ".join(f"uniq{i}" for i in range(24))),
        (3, "srcB", "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    d = str(tmp_path / "span_sf")
    df.write.parquet(f"{d}/documents.parquet")
    spec = REGISTRY["q_dup_spans"]
    got = {r["source"]: r.asDict() for r in spec.fn(spark, d).collect()}
    # doc0: starts 1,5 → spans at 1 and 5; doc1: starts 1,5 → the
    # start-5 span of doc1 IS the start-1 span of doc0 (both = the
    # shared run) → exactly one duplicated fingerprint, hit twice.
    assert got["srcA"]["n_spans"] == 2 + 3  # doc0 (2) + doc2 (3)
    assert got["srcB"]["n_spans"] == 2  # doc1 (doc3 too short)
    assert got["srcA"]["n_dup_spans"] == 1
    assert got["srcB"]["n_dup_spans"] == 1
    assert got["srcA"]["n_docs_hit"] == 1
    assert got["srcB"]["n_docs_hit"] == 1
    assert got["srcA"]["est_dup_tokens"] == 4
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = [tuple(r) for r in con.execute(spec.oracle).fetchall()]
    assert [tuple(r) for r in spec.fn(spark, d).collect()] == want


def test_ivf_append_preserves_search_and_drift_triggers_rebalance(
    spark, sf_dir, tmp_path, monkeypatch
):
    """IVF index maintenance: (1) incremental adds go
    through the SAME sidecar model, so search over an index built-then-
    appended equals search over an index built in one shot under that
    model — recall is preserved by construction; (2) append touches
    only the probed cluster dirs (O(new vectors), not O(index));
    (3) a schema-mismatched append is refused loudly; (4) the drift
    census is ~0 for in-distribution adds, fires after
    off-distribution adds, and ivf_rebalance restores a matched
    model (drift back to ~0) without losing a single row."""
    import glob
    import os

    from prueba_tecnica_analista_etl_spark.operators import ivf_index
    from prueba_tecnica_analista_etl_spark.operators.ivf_index import (
        DATA,
        ivf_append,
        ivf_drift_census,
        ivf_rebalance,
        ivf_search_index,
        ivf_write_index,
    )
    from prueba_tecnica_analista_etl_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    head = emb.filter(F.col("vec_id") < 400)
    tail = emb.filter(F.col("vec_id") >= 400)
    n_all = emb.count()

    inc = str(tmp_path / "ivf_inc")
    oneshot = str(tmp_path / "ivf_oneshot")
    k = 8
    C = ivf_write_index(head, inc, k=k, iters=2)

    before = {
        leaf: sorted(os.listdir(leaf))
        for leaf in glob.glob(os.path.join(inc, DATA, "cluster=*"))
    }
    stats = ivf_append(tail, inc)
    assert stats["appended"] == tail.count()
    assert 1 <= stats["clusters_touched"] <= k
    # untouched cluster dirs gained no files
    touched = 0
    for leaf, files in before.items():
        now = sorted(os.listdir(leaf))
        if now != files:
            touched += 1
            assert set(files) <= set(now)  # append, never rewrite
    assert touched == stats["clusters_touched"]

    # one-shot index under the SAME model == built-then-appended
    ivf_write_index(emb, oneshot, k=k, iters=2, centroids=C)
    query = emb.filter(F.col("vec_id") == 7).first()["embedding"]

    def rows(df):
        return [(r["vec_id"], r["cos_sim"]) for r in df.collect()]

    for nprobe in (2, k):
        assert rows(
            ivf_search_index(spark, inc, query, nprobe=nprobe, topk=10)
        ) == rows(
            ivf_search_index(
                spark, oneshot, query, nprobe=nprobe, topk=10
            )
        )

    # schema mismatch refused loudly
    bad = tail.select(
        F.col("vec_id").cast("int").alias("vec_id"), "embedding"
    )
    with pytest.raises(ValueError, match="sidecar schema"):
        ivf_append(bad, inc)

    # in-distribution appends barely move the census
    census = ivf_drift_census(spark, inc)
    assert census["rows"] == n_all
    assert abs(census["drift"]) < 0.05
    assert not census["refit_recommended"]

    # off-distribution appends drag the mean own-centroid cosine
    # down → trigger. Adversarial by construction: a null-space
    # direction of the centroid matrix is orthogonal to EVERY
    # centroid, so each junk vector's own-centroid cosine is ~0.
    import numpy as np

    _, _, vt = np.linalg.svd(np.asarray(C, dtype=np.float64))
    far = [float(x) for x in vt[-1]]
    junk = spark.createDataFrame(
        [(100000 + j, far) for j in range(300)],
        "vec_id long, embedding array<float>",
    )
    ivf_append(junk, inc)
    monkeypatch.setattr(ivf_index, "REFIT_DRIFT", 0.01)
    drifted = ivf_drift_census(spark, inc)
    assert drifted["rows"] == n_all + 300
    assert drifted["drift"] > 0.01
    assert drifted["refit_recommended"]

    # rebalance: re-fit on current contents, staged swap, zero row
    # loss, drift baseline reset to ~0
    ivf_rebalance(spark, inc, k=k)
    after = ivf_drift_census(spark, inc)
    assert after["rows"] == n_all + 300
    assert abs(after["drift"]) < 1e-9  # fresh baseline == fresh census
    assert sorted(os.listdir(tmp_path)) == ["ivf_inc", "ivf_oneshot"], (
        "no staging or aside dir left beside the index"
    )
    got = ivf_search_index(spark, inc, query, nprobe=k, topk=10)
    assert got.count() == 10


def test_semdedup_with_ivf_quantizer(spark, tmp_path):
    """The cluster stage is genuinely swappable (the q_semdedup
    docstring's 100 TB claim): the SAME purge core
    (semdedup_purge_census) fed a float k-means assignment
    (ivf_fit + assign_clusters — the ivf_centroids quantizer) purges
    exactly the planted duplicate families. Identical vectors assign
    identically under ANY quantizer, so family purge counts are
    invariant to the clustering tier."""
    from prueba_tecnica_analista_etl_spark.functions.vectors import (
        as_double,
        assign_clusters,
        ivf_fit,
    )
    from prueba_tecnica_analista_etl_spark.stages.vectors import (
        _int8_quantized,
        semdedup_purge_census,
    )

    d, exp = _planted_embeddings(spark, tmp_path)
    e = spark.read.parquet(f"{d}/embeddings.parquet").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    C = ivf_fit(e, "v", "vec_id", k=4, iters=2)
    assigned = (
        e.withColumn("cid", assign_clusters(F.col("v"), C))
        .select("vec_id", "cid")
        .join(_int8_quantized(spark, d), "vec_id")
    )
    census = semdedup_purge_census(assigned).collect()
    assert sum(r["n_vecs"] for r in census) == exp["n_vecs"]
    # The planted families purge under ANY quantizer (identical
    # vectors assign identically): at least (3-1)+(2-1) purged and
    # their 3+1 intra-family pairs found. Larger clusters (k=4 here
    # vs 16 medoids) may add borderline pairs, so exact counts are
    # NOT cluster-size-invariant — the medoid-path fixture test pins
    # those.
    assert sum(r["n_purged"] for r in census) >= 3
    assert sum(r["n_dup_pairs"] for r in census) >= 4
    for r in census:
        assert r["n_kept"] == r["n_vecs"] - r["n_purged"]

    # family-level check: the non-min members of both planted
    # families are purged (not survivors) under the k-means tier too
    from prueba_tecnica_analista_etl_spark.operators.components import (
        connected_components,
    )
    from prueba_tecnica_analista_etl_spark.stages.vectors import (
        semdedup_pairs_for,
    )

    labels = {
        r["node"]: r["comp"]
        for r in connected_components(
            semdedup_pairs_for(assigned), a="vec_a", b="vec_b"
        ).collect()
    }
    assert labels[21] == 20 and labels[22] == 20 and labels[31] == 30


def test_pretrain_decontaminate_keeps_what_q_decontaminate_keeps(
    spark, sf_dir
):
    """pretrain_run's decontamination stage over the whole corpus keeps
    exactly the doc ids the registry's q_decontaminate emits, and holds
    back exactly the benchmark docs."""
    from prueba_tecnica_analista_etl_spark.pipelines.pretrain import (
        decontaminate,
    )
    from prueba_tecnica_analista_etl_spark.sources.tables import _t

    def ids(df):
        return {r["doc_id"] for r in df.select("doc_id").collect()}

    docs = _t(spark, sf_dir, "documents")
    kept, held, flagged = decontaminate(docs, docs)
    want = ids(REGISTRY["q_decontaminate"].fn(spark, sf_dir))
    assert ids(kept) == want
    assert ids(held) == {i for i in ids(docs) if i % 50 == 0}
    assert ids(flagged) == ids(docs) - want - ids(held)


def test_pack_bins_equals_q_pack_sequences_without_fill(spark, sf_dir):
    """The pack helper pretrain_run calls, run over every document,
    is q_pack_sequences minus its fill_pct column."""
    from prueba_tecnica_analista_etl_spark.functions.text import n_tokens
    from prueba_tecnica_analista_etl_spark.sources.tables import _t
    from prueba_tecnica_analista_etl_spark.stages.text import pack_bins

    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", n_tokens(F.col("text")).alias("n_tok")
    )
    got = sorted(tuple(r) for r in pack_bins(docs).collect())
    want = sorted(
        tuple(r)
        for r in REGISTRY["q_pack_sequences"]
        .fn(spark, sf_dir)
        .drop("fill_pct")
        .collect()
    )
    assert got == want and len(got) > 1


def test_quality_gate_is_a_length_floor(spark):
    """The gate keeps a 4-token doc with no stopword at all and drops a
    3-token doc made only of stopwords."""
    from prueba_tecnica_analista_etl_spark.stages.dedup import quality_gate

    docs = spark.createDataFrame(
        [(1, "zz yy xx ww"), (2, "the a of")], "doc_id long, text string"
    )
    out = quality_gate(docs).collect()
    assert [(r["doc_id"], r["n_tokens"]) for r in out] == [(1, 4)]
