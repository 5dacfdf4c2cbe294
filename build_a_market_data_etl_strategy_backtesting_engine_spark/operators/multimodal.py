"""Multimodal columns: opaque binary payloads + typed metadata, processed by
Arrow-batched pandas UDFs over ``mapInPandas``.

Beyond-reference operators (SURVEY §7.6): images/audio/video ride as
``binary`` columns (MEDIA_SCHEMA in schemas.py); decode / feature-extract /
resize / frame-sample run as mapInPandas stages so each Arrow batch crosses
the Python boundary once.

Image decode covers the uncompressed raster formats only, with pure
numpy: BMP (24/32-bit BI_RGB, bottom-up or top-down) and binary PPM/PGM
(P6/P5). Any other payload raises ``NotImplementedError`` from
:func:`decode_image_array`; :func:`image_features` turns that into a
``decode_ok = false`` row instead of failing the batch.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = ("media_id long, kind string, n_bytes int, sha256 string, "
                 "width int, height int, feature_norm double")


# ------------------------------------------------- pure-numpy image codecs
#
# The same move that made the audio path real (PCM16 = numpy frombuffer):
# the uncompressed raster formats are just headers + arrays, so decode /
# encode needs no image library. BMP follows the BITMAPINFOHEADER layout
# (24/32-bit, BI_RGB only); PPM/PGM are the netpbm binary variants.


def decode_bmp(content: bytes) -> np.ndarray:
    """BI_RGB BMP -> (H, W, 3) uint8 RGB array.

    Supports 24/32-bit uncompressed, bottom-up (positive height, the
    default) and top-down (negative height) row orders, honoring the
    4-byte row stride padding."""
    if content[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", content, 10)
    width, height = struct.unpack_from("<ii", content, 18)
    (bpp,) = struct.unpack_from("<H", content, 28)
    (compression,) = struct.unpack_from("<I", content, 30)
    if compression != 0:
        raise NotImplementedError(f"BMP compression {compression} (want BI_RGB)")
    if bpp not in (24, 32):
        raise NotImplementedError(f"BMP bpp {bpp} (want 24/32)")
    top_down = height < 0
    h = abs(height)
    nch = bpp // 8
    stride = ((bpp * width + 31) // 32) * 4
    rows = np.frombuffer(
        content, dtype=np.uint8, count=stride * h, offset=pix_off
    ).reshape(h, stride)
    px = rows[:, : width * nch].reshape(h, width, nch)
    if not top_down:
        px = px[::-1]
    # stored BGR(A) -> RGB (alpha dropped)
    return np.ascontiguousarray(px[:, :, [2, 1, 0]])


def encode_bmp(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB -> 24-bit BI_RGB bottom-up BMP bytes."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    h, w, _ = arr.shape
    stride = ((24 * w + 31) // 32) * 4
    pad = stride - w * 3
    body = bytearray()
    bgr = arr[:, :, [2, 1, 0]]
    for row in bgr[::-1]:  # bottom-up
        body += row.tobytes() + b"\x00" * pad
    pix_off = 14 + 40
    size = pix_off + len(body)
    header = (
        b"BM" + struct.pack("<IHHI", size, 0, 0, pix_off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
    )
    return bytes(header) + bytes(body)


def decode_ppm(content: bytes) -> np.ndarray:
    """Binary netpbm (P6 PPM / P5 PGM, maxval <= 255) -> (H, W, C) uint8."""
    magic = content[:2]
    if magic not in (b"P6", b"P5"):
        raise ValueError("not a binary PPM/PGM payload")
    # header = magic + 3 whitespace-separated ints, '#' comments allowed
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm not supported")
    nch = 3 if magic == b"P6" else 1
    arr = np.frombuffer(content, dtype=np.uint8, count=w * h * nch,
                        offset=pos).reshape(h, w, nch)
    return np.ascontiguousarray(arr)


def encode_ppm(arr: np.ndarray) -> bytes:
    """(H, W, 3) or (H, W) uint8 -> binary P6/P5 bytes."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    magic = b"P5" if arr.ndim == 2 else b"P6"
    h, w = arr.shape[:2]
    return magic + f"\n{w} {h}\n255\n".encode() + arr.tobytes()


def decode_image_array(content: bytes) -> np.ndarray:
    """Decode a BMP or binary PPM/PGM payload to an (H, W, C) uint8 array.

    Any other payload raises ``NotImplementedError``, which
    :func:`image_features` catches per row."""
    head = bytes(content[:2])
    if head == b"BM":
        return decode_bmp(bytes(content))
    if head in (b"P6", b"P5"):
        return decode_ppm(bytes(content))
    raise NotImplementedError(
        "image decode supports BMP and binary PPM/PGM (P6/P5) only")


def resize_nearest(arr: np.ndarray, w: int, h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resize (floor index mapping) —
    library-free so the real resize path needs no image library."""
    sh, sw = arr.shape[:2]
    ri = (np.arange(h) * sh) // h
    ci = (np.arange(w) * sw) // w
    return np.ascontiguousarray(arr[ri][:, ci])


def media_features(
    media: DataFrame,
    batch_size_hint: int = 256,
    use_real_decoder: bool = False,
) -> DataFrame:
    """Per-item features over the binary column via mapInPandas.

    Deterministic stub stats (size, sha256, a pseudo 'feature_norm' from the
    digest) keep the pipeline testable; ``use_real_decoder=True`` takes
    width/height from :func:`decode_image_array` instead, which raises on
    any payload that is not BMP/PPM/PGM. Partitioning note: binary rows are
    large — size ``spark.sql.files.maxPartitionBytes`` / repartition so an
    Arrow batch (~batch_size_hint rows) fits executor memory.
    """

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["content"].map(
                    lambda b: len(b) if b is not None else 0).astype("int32"),
                "sha256": pdf["content"].map(
                    lambda b: hashlib.sha256(b or b"").hexdigest()),
            })
            if use_real_decoder:
                arrs = pdf["content"].map(
                    lambda b: decode_image_array(bytes(b or b"")))
                out["width"] = arrs.map(
                    lambda a: a.shape[1]).astype("int32")
                out["height"] = arrs.map(
                    lambda a: a.shape[0]).astype("int32")
            else:
                out["width"] = pdf.get(
                    "width", pd.Series([None] * len(pdf))).astype("Int32")
                out["height"] = pdf.get(
                    "height", pd.Series([None] * len(pdf))).astype("Int32")
            # deterministic pseudo-embedding norm from the content digest
            out["feature_norm"] = out["sha256"].map(
                lambda h: int(h[:8], 16) / 0xFFFFFFFF)
            yield out

    return media.mapInPandas(_run, DECODE_SCHEMA)


IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, n_channels int, "
    "mean_r double, mean_g double, mean_b double, std_gray double, "
    "decode_ok boolean"
)


def image_features(media: DataFrame) -> DataFrame:
    """REAL per-image decode + channel statistics over the binary column
    (the image twin of :func:`audio_features`): BMP/PPM/PGM payloads are
    decoded with pure numpy; rows in any other format, or corrupt ones,
    come back with ``decode_ok = false`` instead of failing the batch.

    Stats are computed from integer pixel sums (exact, order-free) so the
    outputs are bit-deterministic across partitionings — golden-pinnable.
    mapInPandas: one Python crossing per Arrow batch; at 100 TB the only
    sizing concern is rows-per-batch vs payload size, same as audio."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, b in zip(pdf["media_id"], pdf["content"]):
                try:
                    arr = decode_image_array(bytes(b or b""))
                except (ValueError, NotImplementedError, struct.error,
                        IndexError):
                    rows.append((mid, None, None, None, None, None, None,
                                 None, False))
                    continue
                h, w = arr.shape[:2]
                nch = 1 if arr.ndim == 2 else arr.shape[2]
                px = arr.reshape(h, w, nch).astype(np.int64)
                n = h * w
                csum = px.sum(axis=(0, 1))  # integer: exact
                means = [float(csum[min(c, nch - 1)]) / n for c in range(3)]
                gray = px.mean(axis=2)
                gsum, gsq = float(gray.sum()), float((gray * gray).sum())
                var = max(gsq / n - (gsum / n) ** 2, 0.0)
                rows.append((mid, w, h, nch, means[0], means[1], means[2],
                             var ** 0.5, True))
            yield pd.DataFrame(rows, columns=[
                "media_id", "width", "height", "n_channels",
                "mean_r", "mean_g", "mean_b", "std_gray", "decode_ok",
            ])

    return media.filter(F.col("kind") == "image").select(
        "media_id", "content"
    ).mapInPandas(_run, IMAGE_FEATURES_SCHEMA)


RESIZE_SCHEMA = ("media_id long, kind string, content binary, width int, "
                 "height int, resized boolean")


def resize_images(
    media: DataFrame,
    target_width: int = 224,
    target_height: int = 224,
    use_real_decoder: bool = False,
) -> DataFrame:
    """Image resize stage via mapInPandas (the preprocessing step before
    feature extraction in a vision-training pipeline).

    Real path (``use_real_decoder=True``): decode -> nearest-neighbor
    resize -> re-encode inside the UDF, in pure numpy, for BMP/PPM/PGM
    payloads; any other format raises. Stub path: passes the payload
    through untouched and stamps the target dims + ``resized`` flag,
    keeping the batch shape, schema, and binary round-trip through Arrow
    real. Items already at target size pass through with
    ``resized=false`` in both paths.
    """

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            is_img = pdf["kind"] == "image"
            at_size = (
                (pdf["width"] == target_width)
                & (pdf["height"] == target_height)
            ).fillna(False)
            if use_real_decoder:
                pdf["content"] = pdf.apply(
                    lambda r: _resize_one(
                        r["content"], target_width, target_height)
                    if r["kind"] == "image" else r["content"], axis=1)
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "content": pdf["content"],
                "width": pdf["width"].where(~is_img, target_width)
                .astype("Int32"),
                "height": pdf["height"].where(~is_img, target_height)
                .astype("Int32"),
                "resized": (is_img & ~at_size),
            })
            yield out

    return media.select(
        "media_id", "kind", "content", "width", "height"
    ).mapInPandas(_run, RESIZE_SCHEMA)


def _resize_one(content: bytes, w: int, h: int) -> bytes:
    """Real decode->resize->re-encode in the SAME format (BMP/PPM/PGM)."""
    small = resize_nearest(decode_image_array(content), w, h)
    if bytes(content[:2]) == b"BM":
        return encode_bmp(small)
    return encode_ppm(small)


AUDIO_SCHEMA = ("media_id long, n_bytes int, n_samples int, "
                "duration_s double, rms double, peak double")


def audio_features(media: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Waveform features over raw PCM16 audio payloads — a REAL decode
    (unlike the stubbed image path): little-endian int16 PCM needs only
    numpy, so rms/peak/duration are computed from the actual bytes.

    mapInPandas keeps one Python crossing per Arrow batch; the numpy body
    is vectorized per item. Containerized formats (wav/mp3/flac) would
    strip headers in the same UDF body on a real cluster — the engine-side
    contract (binary column in, typed feature rows out) is unchanged.
    """
    import numpy as np

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for mid, b in zip(pdf["media_id"], pdf["content"]):
                raw = bytes(b or b"")
                raw = raw[: len(raw) - (len(raw) % 2)]
                a = np.frombuffer(raw, dtype="<i2").astype(np.float64)
                a /= 32768.0
                n = len(a)
                feats.append((
                    mid, len(bytes(b or b"")), n, n / sample_rate,
                    float(np.sqrt(np.mean(a * a))) if n else 0.0,
                    float(np.max(np.abs(a))) if n else 0.0,
                ))
            yield pd.DataFrame(feats, columns=[
                "media_id", "n_bytes", "n_samples",
                "duration_s", "rms", "peak",
            ])

    return media.filter(F.col("kind") == "audio").mapInPandas(
        _run, AUDIO_SCHEMA)


def frame_sample_plan(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling plan: explode (media_id, frame_ts_ms) rows from
    duration metadata — the shuffle-free fan-out that precedes per-frame
    decode. Pure expressions; the decode itself is the stubbed UDF above."""
    n_frames = F.greatest(
        (F.col("duration_ms") / every_ms).cast("int"), F.lit(1)
    )
    return media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.transform(F.sequence(F.lit(0), n_frames - 1),
                        lambda i: i * every_ms)
        ).alias("frame_ts_ms"),
    )


def synthetic_images(spark, n: int = 12) -> DataFrame:
    """Deterministic REAL image table: seeded gradient/checker rasters
    encoded as actual BMP (odd widths exercise row padding) and binary
    PPM/PGM payloads, conforming to MEDIA_SCHEMA. Unlike
    :func:`synthetic_media` (opaque fake bytes, kept frozen for the q40
    golden), these payloads round-trip through the numpy codecs."""
    rows = []
    for i in range(n):
        w = 13 + (i * 7) % 20       # odd widths -> BMP stride padding
        h = 9 + (i * 5) % 16
        yy, xx = np.mgrid[0:h, 0:w]
        r = ((xx * 255) // max(w - 1, 1)).astype(np.uint8)
        g = ((yy * 255) // max(h - 1, 1)).astype(np.uint8)
        b = (((xx + yy + i) % 16) * 17).astype(np.uint8)
        arr = np.stack([r, g, b], axis=-1)
        fmt = ["bmp", "ppm", "pgm"][i % 3]
        if fmt == "bmp":
            payload = encode_bmp(arr)
        elif fmt == "ppm":
            payload = encode_ppm(arr)
        else:
            payload = encode_ppm(arr[:, :, 0])  # P5 grayscale
        rows.append((i, "image", bytearray(payload), f"synth/{fmt}",
                     w, h, None, {"fmt": fmt}))
    from build_a_market_data_etl_strategy_backtesting_engine_spark.schemas import (
        MEDIA_SCHEMA,
    )

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table (binary payload = seeded bytes) for
    plumbing tests, conforming to MEDIA_SCHEMA."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(str(i).encode()).digest() * 8
        kind = ["image", "audio", "video"][i % 3]
        rows.append((i, kind, bytearray(payload), f"fake/{kind}",
                     64, 48, 5000 if kind == "video" else None, {}))
    from build_a_market_data_etl_strategy_backtesting_engine_spark.schemas import (
        MEDIA_SCHEMA,
    )

    return spark.createDataFrame(rows, MEDIA_SCHEMA)
