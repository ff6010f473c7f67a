"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride along as ``binary`` columns with a typed
metadata struct. PNG/GIF/JPEG/TIFF payloads are decoded FOR REAL by
the stdlib decoders in kernels/raster.py, kernels/jpeg.py and
kernels/tiff.py, WebP by the system libwebp (ctypes, kernels/webp.py)
— all yield true dimensions + luminance grid features. Video (and
WebP on a host without libwebp) falls back to ``_decode_image_stub``
and is flagged ``decoded = false`` so every downstream rollup
distinguishes measured features from placeholders. Swap the stub for
ffmpeg on a real cluster without touching the Spark plan.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from docling_spark.operators.batch import guard_zip_rereads, map_docs, url_hash

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("feature", ArrayType(DoubleType())),
        StructField("sha1", StringType()),
        # true iff the pixels were actually decoded; false =
        # placeholder features from the codec stub (video)
        StructField("decoded", BooleanType()),
    ]
)

_MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"GIF8": "image/gif",
    b"II*\x00": "image/tiff",
    b"MM\x00*": "image/tiff",
    b"RIFF": "audio/wav",
    b"\x1aE\xdf\xa3": "video/webm",
}


def sniff_mime(payload: bytes) -> str:
    if payload[:4] == b"RIFF":  # RIFF container: fourcc disambiguates
        if payload[8:12] == b"WEBP":
            return "image/webp"
        return "audio/wav"
    for magic, mime in _MAGIC.items():
        if payload[: len(magic)] == magic:
            return mime
    return "application/octet-stream"


def _synth_payload(i: int) -> tuple[str, bytes]:
    """(kind, payload) for media_id i: REAL PNG or baseline JPEG
    (i%4==0, alternating), REAL WAV (i%4==1), fake webm (i%4==2, no
    stdlib video container), REAL GIF / TIFF / lossless WebP
    (i%4==3, rotating). Image/audio payloads are valid files the real
    decoders parse; only video stubs."""
    if i % 4 == 0:  # real image: 8-bit gray PNG / color baseline JPEG
        import numpy as np

        w, h = 48 + i % 64, 32 + i % 48
        yy, xx = np.mgrid[0:h, 0:w]
        if (i // 4) % 2:  # real 4:2:0 color JPEG via the T.81 encoder
            from docling_spark.kernels.jpeg import encode_jpeg

            rgb = np.stack(
                [
                    (xx * 3 + i) % 256,
                    (yy * 5 + i) % 256,
                    (xx + yy * 2 + i) % 256,
                ],
                axis=-1,
            ).astype(np.uint8)
            return "image", encode_jpeg(
                w, h, 3, rgb.tobytes(), quant=4, subsample=True,
                progressive=bool((i // 8) % 2),  # half SOF0, half SOF2
            )
        from docling_spark.kernels.pdf_kernel import encode_png_gray

        img = ((xx * 3 + yy * 5 + i) % 256).astype(np.uint8)
        return "image", encode_png_gray(img)
    if i % 4 == 1:  # real PCM WAV, 100 ms of deterministic samples
        rate, nsamp = 8000, 800
        body = bytes((i * 7 + s * 13) % 256 for s in range(nsamp))
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate, 1, 8)
        data = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", nsamp) + body
        )
        return "audio", b"RIFF" + struct.pack("<I", len(data)) + data
    if i % 4 == 2:  # fake webm (no stdlib video demuxer)
        body = hashlib.sha256(struct.pack("<q", i)).digest() * (4 + i % 8)
        return "video", b"\x1aE\xdf\xa3" + body
    w, h = 40 + i % 32, 24 + i % 24
    plane = bytes((x * 5 + y * 11 + i) % 256 for y in range(h) for x in range(w))
    variant = (i // 4) % 3
    if variant == 1:  # real TIFF (LZW / PackBits alternating)
        from docling_spark.kernels.tiff import encode_tiff

        comp = 5 if (i // 8) % 2 else 32773
        return "image", encode_tiff([(w, h, 1, plane)], compression=comp)
    if variant == 2:  # real lossless WebP via the system libwebp
        from docling_spark.kernels.webp import encode_webp_lossless, webp_available

        if webp_available():
            rgba = b"".join(bytes((v, v, v, 255)) for v in plane)
            return "image", encode_webp_lossless(w, h, rgba)
        # host without libwebp: fall through to GIF (corpus stays total)
    # real gray GIF via the raster encoder
    from docling_spark.kernels.raster import encode_gif_gray

    return "image", encode_gif_gray(w, h, plane)


def synth_media(spark, n: int = 256) -> DataFrame:
    """Deterministic media corpus: REAL PNG/JPEG/GIF/TIFF/WebP/WAV
    payloads (decoded for real downstream) + fake video bytes (stub
    path)."""

    def gen(batches):
        import pandas as pd

        guard_zip_rereads()
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                kind, payload = _synth_payload(i)
                rows.append(
                    {
                        "media_id": i,
                        "kind": kind,
                        "payload": payload,
                        "mime": sniff_mime(payload),
                        "n_bytes": len(payload),
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(0, n).mapInPandas(gen, MEDIA_SCHEMA)


def _decode_image_stub(payload: bytes) -> tuple[int, int, list[float]]:
    """STUB: stands in for a codec this container lacks (video
    demux; WebP on hosts without libwebp).

    Deterministic fake: dimensions and an 8-dim 'embedding' derived
    from the payload digest. Rows produced this way carry
    ``decoded = false`` so no rollup mistakes them for measurements.
    """
    d = hashlib.sha1(payload).digest()
    w = 64 + d[0] % 192
    h = 64 + d[1] % 192
    feat = [round(b / 255.0, 6) for b in d[2:10]]
    return w, h, feat


def _grid_feature_np(w: int, h: int, channels: int, samples: bytes) -> list[float]:
    """8-dim 2x4 grid-mean luminance feature in [0, 1] (Rec.601 float
    luma for color, channel 0 for gray), numpy-vectorized for the Arrow
    batch hot path."""
    import numpy as np

    a = np.frombuffer(samples, dtype=np.uint8).reshape(h, w, channels)
    if channels >= 3:
        lum = (
            0.299 * a[:, :, 0].astype(np.float32)
            + 0.587 * a[:, :, 1]
            + 0.114 * a[:, :, 2]
        )
    else:
        lum = a[:, :, 0].astype(np.float32)
    feat = []
    for gy in range(2):
        for gx in range(4):
            block = lum[
                h * gy // 2 : max(h * (gy + 1) // 2, h * gy // 2 + 1),
                w * gx // 4 : max(w * (gx + 1) // 4, w * gx // 4 + 1),
            ]
            feat.append(round(float(block.mean()) / 255.0, 6))
    return feat


def extract_media_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches: the real plan
    shape for decode/resize/frame-sample at scale (one Python worker per
    core, payload bytes never hit the driver). PNG/GIF/JPEG/TIFF/WebP
    decode for real; everything else falls back to the stub with
    ``decoded = false``."""

    def per_doc(mid, kind, payload):
        from docling_spark.kernels.raster import decode_image

        payload = bytes(payload)
        decoded = False
        try:
            w, h, ch, samples = decode_image(payload)
            feat = _grid_feature_np(w, h, ch, samples)
            decoded = True
        except Exception:
            # defense in depth beyond decode_image's typed
            # RasterError contract: one malformed crawl image
            # must become a stub row, never a task kill
            w, h, feat = _decode_image_stub(payload)
        return [
            {
                "media_id": mid,
                "kind": kind,
                "n_bytes": len(payload),
                "width": w if kind == "image" else 0,
                "height": h if kind == "image" else 0,
                "n_frames": (1 if kind == "image" else 1 + int(w) % 16),
                "feature": feat,
                "sha1": hashlib.sha1(payload).hexdigest(),
                "decoded": decoded,
            }
        ]

    return map_docs(url_hash(df, ["media_id", "kind", "payload"]), per_doc, FEATURE_SCHEMA)


def media_rollup(features: DataFrame) -> DataFrame:
    """Per-(kind, decoded) accounting: rows with decoded=false carry
    stub placeholders, never measurements — the split keeps them
    visibly apart in every audit."""
    return (
        features.groupBy("kind", "decoded")
        .agg(
            F.count("*").alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.round(F.avg("width"), 4).alias("avg_width"),
        )
        .orderBy("kind", "decoded")
    )


# -------------------------------------------------------- audio metadata


def parse_wav_header(payload: bytes) -> dict | None:
    """Real (non-stub) WAV metadata from the RIFF fmt/data chunks:
    sample rate, channels, bit depth, duration. The audio PIPELINE in
    the reference is ASR-model-bound (B11/V-ops, out of scope); the
    typed-metadata column is the part a training-data pipeline needs
    regardless of ASR."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data_len = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if cid == b"fmt " and pos + 8 + 16 <= len(payload):
            _, channels, rate, _, _, bits = struct.unpack(
                "<HHIIHH", payload[pos + 8 : pos + 24]
            )
            fmt = (rate, channels, bits)
        elif cid == b"data":
            data_len = clen
        pos += 8 + clen + (clen % 2)
    if fmt is None:
        return None
    rate, channels, bits = fmt
    byte_rate = rate * channels * max(bits // 8, 1)
    duration = (data_len / byte_rate) if (data_len and byte_rate) else 0.0
    return {
        "format": "wav",
        "sample_rate": rate,
        "channels": channels,
        "bits_per_sample": bits,
        "duration_sec": round(duration, 6),
    }


_MP3_BITRATES_V1L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
_MP3_RATES_V1 = [44100, 48000, 32000, 0]
_MP3_RATES_V2 = [22050, 24000, 16000, 0]
_MP3_RATES_V25 = [11025, 12000, 8000, 0]


def parse_mp3_header(payload: bytes) -> dict | None:
    """MPEG audio metadata from the first frame header (skipping any
    ID3v2 tag): version/layer, sample rate, channels, bitrate, and a
    CBR duration estimate from the stream length. Real parsing, no
    codec — decode/ASR stay model-bound and out of scope."""
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = (
            (payload[6] & 0x7F) << 21 | (payload[7] & 0x7F) << 14
            | (payload[8] & 0x7F) << 7 | (payload[9] & 0x7F)
        )
        pos = 10 + size
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] == 0xFF and (payload[pos + 1] & 0xE0) == 0xE0:
            b1, b2, b3 = payload[pos + 1], payload[pos + 2], payload[pos + 3]
            version = (b1 >> 3) & 0x3  # 3=V1, 2=V2, 0=V2.5
            layer = (b1 >> 1) & 0x3  # 1=III
            if version == 1 or layer == 0:
                pos += 1
                continue
            rates = {3: _MP3_RATES_V1, 2: _MP3_RATES_V2, 0: _MP3_RATES_V25}[version]
            rate = rates[(b2 >> 2) & 0x3]
            if not rate:
                pos += 1
                continue
            bitrate_i = (b2 >> 4) & 0xF
            bitrate = (
                _MP3_BITRATES_V1L3[bitrate_i] * 1000
                if version == 3 and layer == 1 and bitrate_i < 15
                else 0
            )
            channels = 1 if ((b3 >> 6) & 0x3) == 3 else 2
            duration = (
                round((n - pos) * 8 / bitrate, 3) if bitrate else 0.0
            )
            return {
                "format": "mp3",
                "sample_rate": rate,
                "channels": channels,
                "bits_per_sample": 0,  # compressed stream
                "duration_sec": duration,
            }
        pos += 1
    return None
