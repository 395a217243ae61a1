"""Multimodal column plumbing (north-star extension): image/audio/video
as opaque ``binary`` columns + typed metadata, processed by
Arrow-batched ``mapInPandas`` — the shape a 100 TB multimodal corpus
pipeline needs (schema, partitioning, UDF signature, batch flow).

Codec strategy (three tiers, auto-selected per payload at runtime):

1. pure-Python container-header parsing — PNG/GIF/JPEG dimensions,
   RIFF/WAVE and MP4 duration/sample-rate — always available, real
   metadata with zero dependencies;
2. an optional real codec — ``PIL`` for image decode and pixel
   features — try-imported INSIDE each batch closure (executors may
   lack both the package and the libs; closures pickle by value,
   imports must happen worker-side) and used whenever the import
   succeeds AND the payload actually decodes;
3. a deterministic stub — length-derived dimensions and
   byte-histogram features — for payloads nothing can decode.

The declared oracle query (q_multimodal_meta) runs over
:func:`fake_assets` text payloads, which no real codec can open, so
its output is byte-identical whether or not PIL is installed —
the optional tier never destabilizes recorded hashes.

Design: binary payloads never pass through Python row-at-a-time; each
``mapInPandas`` batch is an Arrow RecordBatch, so throughput is bounded
by codec speed, not serialization. Partition by asset id (or storage
block) so one task never holds more than
``spark.sql.execution.arrow.maxRecordsPerBatch`` payloads in memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("checksum", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
    ]
)

# Force-disable the optional real-codec tier (PIL) even where the
# libraries are importable — for A/B-testing the stub path or pinning
# bit-stable output on a cluster that happens to have codecs installed.
DISABLE_REAL_CODECS = False


def fake_assets(documents: DataFrame) -> DataFrame:
    """Deterministic binary assets derived from the documents table
    (UTF-8 payloads standing in for image bytes): the plumbing under
    test is schema/partitioning/Arrow flow, not the codec."""
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )


def extract_metadata(assets: DataFrame) -> DataFrame:
    """Decode/inspect assets via Arrow-batched ``mapInPandas``.

    Dimensions are REAL for PNG, GIF and JPEG payloads — a pure-Python
    container-header parse (PNG IHDR big-endian w/h at bytes 16..24,
    GIF logical-screen little-endian w/h at bytes 6..10, JPEG marker
    walk to the first SOF frame header), no codec library needed.
    ``duration_s``/``sample_rate`` are likewise REAL for RIFF/WAVE
    (fmt-chunk byte rate ÷ data-chunk size) and MP4 (moov/mvhd
    timescale + duration box walk) payloads, NULL otherwise.
    Payloads whose magic doesn't match then get one shot at the
    OPTIONAL real-codec tier (``PIL.Image.open`` — covers WebP, BMP,
    TIFF and anything else PIL links) when the import succeeds, and
    finally fall back to the deterministic length-derived fake.

    The batch function is fully self-contained (only locals + pandas +
    worker-side try-imports): executor Python workers do NOT have this
    package importable — a module-level helper would pickle by
    reference and die with ModuleNotFoundError on any cluster where
    the driver script isn't launched from the package root. Closures
    pickle by value.
    """
    allow_real = not DISABLE_REAL_CODECS

    def decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        pil_image = None
        if allow_real:
            try:
                from PIL import Image as pil_image  # noqa: N813
            except ImportError:
                pil_image = None

        def pil_dims(b: bytes) -> tuple[int, int] | None:
            if pil_image is None:
                return None
            import io

            try:
                with pil_image.open(io.BytesIO(b)) as img:
                    return img.size  # lazy header parse, no pixel load
            except Exception:
                return None

        def sniff_dims(b: bytes | None) -> tuple[int, int] | None:
            if b is None:
                return None
            b = bytes(b)
            if (
                len(b) >= 24
                and b[:8] == b"\x89PNG\r\n\x1a\n"
                and b[12:16] == b"IHDR"
            ):
                return (
                    int.from_bytes(b[16:20], "big"),
                    int.from_bytes(b[20:24], "big"),
                )
            if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
                return (
                    int.from_bytes(b[6:8], "little"),
                    int.from_bytes(b[8:10], "little"),
                )
            if len(b) >= 4 and b[:2] == b"\xff\xd8":  # JPEG SOI
                # Walk marker segments to the first SOF frame header:
                # [FF marker len16 precision8 height16 width16 ...]
                i = 2
                while i + 9 <= len(b):
                    if b[i] != 0xFF:
                        i += 1
                        continue
                    marker = b[i + 1]
                    if marker == 0xFF:
                        # fill byte: advance ONE so a trailing FF can
                        # still be the prefix of the real marker
                        # (FF FF C0 must find the C0)
                        i += 1
                        continue
                    if marker == 0x00:
                        # byte-stuffed FF inside entropy-coded data —
                        # not a marker, and it has NO length field
                        i += 2
                        continue
                    if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                        i += 2  # standalone marker, no length
                        continue
                    if i + 4 > len(b):
                        break
                    seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
                    if 0xC0 <= marker <= 0xCF and marker not in (
                        0xC4,
                        0xC8,
                        0xCC,
                    ):
                        if i + 9 <= len(b):
                            h = int.from_bytes(b[i + 5 : i + 7], "big")
                            w = int.from_bytes(b[i + 7 : i + 9], "big")
                            return (w, h)
                        break
                    i += 2 + seg_len
                return None
            return None

        def sniff_av(b: bytes | None) -> tuple[float | None, int | None] | None:
            """(duration_s, sample_rate) from audio/video container
            headers — same spirit as ``sniff_dims``, pure-Python:
            RIFF/WAVE fmt-chunk byte rate + data-chunk size, or an
            ISO-BMFF (MP4) moov/mvhd timescale + duration walk."""
            if b is None:
                return None
            b = bytes(b)
            if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                rate = byte_rate = data_size = None
                i = 12
                while i + 8 <= len(b):
                    cid = b[i : i + 4]
                    size = int.from_bytes(b[i + 4 : i + 8], "little")
                    body = b[i + 8 : i + 8 + size]
                    if cid == b"fmt " and len(body) >= 16:
                        rate = int.from_bytes(body[4:8], "little")
                        byte_rate = int.from_bytes(body[8:12], "little")
                    elif cid == b"data":
                        # clamp to bytes actually present: a truncated
                        # or corrupt header declaring a huge data chunk
                        # must not report hours of phantom audio
                        data_size = min(size, max(0, len(b) - (i + 8)))
                    i += 8 + size + (size & 1)  # chunks word-aligned
                if rate and byte_rate and data_size is not None:
                    return (data_size / byte_rate, rate)
                return None
            if len(b) >= 8 and b[4:8] == b"ftyp":

                def boxes(start: int, end: int):
                    i = start
                    while i + 8 <= end:
                        size = int.from_bytes(b[i : i + 4], "big")
                        typ = b[i + 4 : i + 8]
                        hdr = 8
                        if size == 1:  # 64-bit largesize
                            if i + 16 > end:
                                return
                            size = int.from_bytes(b[i + 8 : i + 16], "big")
                            hdr = 16
                        if size < hdr or i + size > end:
                            return
                        yield typ, i + hdr, i + size
                        i += size

                for typ, s, e in boxes(0, len(b)):
                    if typ != b"moov":
                        continue
                    for t2, s2, e2 in boxes(s, e):
                        if t2 != b"mvhd" or s2 + 4 > e2:
                            continue
                        ver = b[s2]
                        if ver == 1 and s2 + 32 <= e2:
                            ts = int.from_bytes(b[s2 + 20 : s2 + 24], "big")
                            dur = int.from_bytes(b[s2 + 24 : s2 + 32], "big")
                        elif ver == 0 and s2 + 20 <= e2:
                            ts = int.from_bytes(b[s2 + 12 : s2 + 16], "big")
                            dur = int.from_bytes(b[s2 + 16 : s2 + 20], "big")
                        else:
                            return None
                        return (dur / ts, None) if ts else None
                return None
            return None

        lengths = pdf["content"].map(lambda b: 0 if b is None else len(b))
        # header sniff runs on every payload (cheap, pure-Python);
        # the PIL fallback is gated on media_type == image/* so
        # multi-MB audio/video payloads never pay a per-row
        # PIL.open + exception in the Arrow hot path.
        dims = pd.Series(
            [
                None
                if b is None
                else (
                    sniff_dims(b)
                    or (
                        pil_dims(bytes(b))
                        if mt.startswith("image/")
                        else None
                    )
                )
                for b, mt in zip(pdf["content"], pdf["media_type"])
            ],
            index=pdf.index,
            dtype="object",
        )
        avs = pdf["content"].map(sniff_av)
        fake_w = (lengths % 1920).astype("int32")
        fake_h = (lengths % 1080).astype("int32")
        return pd.DataFrame(
            {
                "asset_id": pdf["asset_id"],
                "media_type": pdf["media_type"],
                "n_bytes": lengths.astype("int64"),
                "checksum": pdf["content"].map(
                    lambda b: ""
                    if b is None
                    else format(len(b) * 2654435761 % (1 << 32), "08x")
                ),
                "width": pd.Series(
                    [
                        d[0] if d else int(w)
                        for d, w in zip(dims, fake_w)
                    ],
                    index=pdf.index,
                ).astype("int32"),
                "height": pd.Series(
                    [
                        d[1] if d else int(h)
                        for d, h in zip(dims, fake_h)
                    ],
                    index=pdf.index,
                ).astype("int32"),
                "duration_s": pd.Series(
                    [a[0] if a else None for a in avs],
                    index=pdf.index,
                    dtype="float64",
                ),
                "sample_rate": pd.Series(
                    [a[1] if a else None for a in avs],
                    index=pdf.index,
                    dtype="Int32",
                ),
            }
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield decode_batch(pdf)

    return assets.mapInPandas(gen, schema=META_SCHEMA)


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField(
            "features", T.ArrayType(T.FloatType(), False), True
        ),
    ]
)


# Feature-vector width; the q_multimodal_pipeline oracle's nibble
# histogram is specific to it.
FEATURE_DIM = 16


def extract_features(assets: DataFrame) -> DataFrame:
    """Per-asset feature vector via ``mapInPandas`` (the embedding-model
    stage of a multimodal pipeline).

    Features are a deterministic histogram projection (numpy, one pass
    per batch) standing in for a model forward pass; when PIL imports
    worker-side and an image payload decodes, the histogram runs over
    DECODED PIXELS (a real, content-sensitive feature) instead of raw
    container bytes. The contract — fixed-dim float vector per asset,
    Arrow-batched, no driver collect — is the same either way.
    """
    allow_real = not DISABLE_REAL_CODECS
    n_dim = FEATURE_DIM

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        pil_image = None
        if allow_real:
            try:
                from PIL import Image as pil_image  # noqa: N813
            except ImportError:
                pil_image = None

        def pixel_bytes(b: bytes) -> bytes | None:
            if pil_image is None:
                return None
            import io

            try:
                with pil_image.open(io.BytesIO(b)) as img:
                    return img.convert("L").tobytes()
            except Exception:
                return None

        for pdf in batches:
            feats = []
            for b in pdf["content"]:
                if b is None:
                    feats.append(None)
                    continue
                raw = pixel_bytes(bytes(b)) or bytes(b)
                a = np.frombuffer(raw, dtype=np.uint8)
                hist = np.bincount(a % n_dim, minlength=n_dim).astype(
                    np.float64
                )
                norm = np.linalg.norm(hist)
                feats.append(
                    (hist / norm if norm else hist).astype(np.float32)
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "features": feats,
                }
            )

    return assets.mapInPandas(gen, schema=FEATURE_SCHEMA)
