"""Baseline JPEG codec (kernels/jpeg.py): encode->decode roundtrips
bound per-pixel error by the quantizer step; the reference's real
scanned JPEG fixture pins the decoder against an external encoder.

Reference path being replaced: docling decodes images through PIL
(docling/backend/pdf_backend.py:56-90); this sandbox has no PIL, so
the decoder is an original T.81 baseline implementation.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from conftest import needs_reference

from docling_spark.kernels.jpeg import JpegError, decode_jpeg, encode_jpeg
from docling_spark.kernels.raster import RasterError, decode_image

REAL_JPEG = "/root/reference/tests/data_scanned/qr_bill_example.jpg"


def _test_image(w: int = 53, h: int = 37) -> np.ndarray:
    img = (np.linspace(0, 255, w)[None, :, None] * np.ones((h, 1, 3))).astype(
        np.uint8
    )
    img[5:15, 10:30] = [220, 40, 80]
    img[20:30, 2:18] = [10, 180, 200]
    return img


def test_roundtrip_444_rgb():
    img = _test_image()
    h, w = img.shape[:2]
    enc = encode_jpeg(w, h, 3, img.tobytes(), quant=4)
    dw, dh, dc, out = decode_jpeg(enc)
    assert (dw, dh, dc) == (w, h, 3)
    dec = np.frombuffer(out, dtype=np.uint8).reshape(h, w, 3)
    err = np.abs(dec.astype(int) - img.astype(int))
    # flat quantizer step 4 bounds DCT coefficient error; spatial error
    # stays within a few levels
    assert err.max() <= 12
    assert err.mean() < 1.5


def test_roundtrip_grayscale():
    h, w = 45, 61
    g = (np.arange(h * w, dtype=np.uint64) * 37 % 256).astype(np.uint8)
    enc = encode_jpeg(w, h, 1, g.tobytes(), quant=2)
    dw, dh, dc, out = decode_jpeg(enc)
    assert (dw, dh, dc) == (w, h, 1)
    dec = np.frombuffer(out, dtype=np.uint8)
    assert np.abs(dec.astype(int) - g.astype(int)).max() <= 8


def test_roundtrip_420_subsampled():
    """2x2 chroma subsampling: luminance must roundtrip tightly; chroma
    blurs at sharp color edges by construction."""
    img = _test_image()
    h, w = img.shape[:2]
    enc = encode_jpeg(w, h, 3, img.tobytes(), quant=4, subsample=True)
    dw, dh, dc, out = decode_jpeg(enc)
    assert (dw, dh, dc) == (w, h, 3)
    dec = np.frombuffer(out, dtype=np.uint8).reshape(h, w, 3).astype(float)
    lum = lambda a: 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
    lerr = np.abs(lum(dec) - lum(img.astype(float)))
    assert lerr.max() <= 8
    assert lerr.mean() < 1.0


def test_roundtrip_restart_markers():
    """DRI + RSTn path: identical pixels to the no-restart stream."""
    img = _test_image()
    h, w = img.shape[:2]
    plain = decode_jpeg(encode_jpeg(w, h, 3, img.tobytes(), quant=4))
    rst = decode_jpeg(
        encode_jpeg(w, h, 3, img.tobytes(), quant=4, restart_interval=3)
    )
    assert plain == rst


def test_block_edge_sizes():
    """Widths/heights off the 8- and 16-multiple grid decode at the
    declared size (padding cropped)."""
    for w, h in [(8, 8), (9, 7), (16, 16), (17, 15), (1, 1), (24, 3)]:
        img = ((np.arange(w * h * 3, dtype=np.uint64) * 29) % 256).astype(
            np.uint8
        )
        for sub in (False, True):
            enc = encode_jpeg(w, h, 3, img.tobytes(), quant=2, subsample=sub)
            dw, dh, dc, out = decode_jpeg(enc)
            assert (dw, dh, dc) == (w, h, 3)
            assert len(out) == w * h * 3


@needs_reference
def test_real_reference_fixture():
    """The reference's scanned QR-bill JPEG (external encoder, 4:4:4
    SOF0): dimensions match the header and the pixel statistics match a
    white-background document scan."""
    data = open(REAL_JPEG, "rb").read()
    w, h, c, out = decode_jpeg(data)
    assert (w, h, c) == (1021, 1423, 3)
    px = np.frombuffer(out, dtype=np.uint8).reshape(h, w, 3).astype(float)
    lum = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    # a printed bill: mostly white paper, a visible share of dark ink
    assert lum.mean() > 220
    assert (lum > 200).mean() > 0.85
    assert 0.005 < (lum < 64).mean() < 0.2


def test_progressive_matches_baseline():
    """An SOF2 stream of the same image (spectral selection +
    successive approximation) codes the same coefficients, so the
    decoded pixels must be byte-identical to the baseline stream's."""
    img = _test_image()
    h, w = img.shape[:2]
    for sub in (False, True):
        base = decode_jpeg(
            encode_jpeg(w, h, 3, img.tobytes(), quant=4, subsample=sub)
        )
        prog = decode_jpeg(
            encode_jpeg(
                w, h, 3, img.tobytes(), quant=4, subsample=sub,
                progressive=True,
            )
        )
        assert base == prog


def test_progressive_grayscale_and_edges():
    """Grayscale SOF2 plus off-grid sizes (component grid smaller than
    the MCU-padded grid) decode identically to baseline."""
    g = (np.arange(45 * 61, dtype=np.uint64) * 37 % 256).astype(np.uint8)
    assert decode_jpeg(
        encode_jpeg(61, 45, 1, g.tobytes(), quant=2, progressive=True)
    ) == decode_jpeg(encode_jpeg(61, 45, 1, g.tobytes(), quant=2))
    for w, h in [(17, 15), (9, 7), (24, 3)]:
        im = ((np.arange(w * h * 3, dtype=np.uint64) * 29) % 256).astype(
            np.uint8
        )
        for sub in (False, True):
            b = decode_jpeg(
                encode_jpeg(w, h, 3, im.tobytes(), quant=2, subsample=sub)
            )
            p = decode_jpeg(
                encode_jpeg(
                    w, h, 3, im.tobytes(), quant=2, subsample=sub,
                    progressive=True,
                )
            )
            assert b == p, (w, h, sub)


def test_progressive_eob_and_refinement_stress():
    """Dense-coefficient (ZRL/refinement-heavy) and flat (long EOB run)
    images through the progressive path."""
    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, (64, 80, 3), dtype=np.uint8)
    assert decode_jpeg(
        encode_jpeg(80, 64, 3, noise.tobytes(), quant=8, progressive=True)
    ) == decode_jpeg(encode_jpeg(80, 64, 3, noise.tobytes(), quant=8))
    flat = np.full((48, 120, 3), 200, dtype=np.uint8)
    assert decode_jpeg(
        encode_jpeg(120, 48, 3, flat.tobytes(), quant=4, progressive=True)
    ) == decode_jpeg(encode_jpeg(120, 48, 3, flat.tobytes(), quant=4))


def test_arithmetic_coded_rejected():
    """SOF9 (arithmetic sequential) raises JpegError (and RasterError
    through the dispatcher), landing callers on the metadata path."""
    img = _test_image(24, 16)
    enc = bytearray(encode_jpeg(24, 16, 3, img.tobytes()))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC9
    with pytest.raises(JpegError):
        decode_jpeg(bytes(enc))
    with pytest.raises(RasterError):
        decode_image(bytes(enc))


def test_truncated_stream_rejected():
    """A file cut mid-scan must fail typed, not decode to gray garbage
    (crawl payloads are routinely truncated)."""
    img = _test_image()
    h, w = img.shape[:2]
    enc = encode_jpeg(w, h, 3, img.tobytes(), quant=4)
    with pytest.raises(JpegError):
        decode_jpeg(enc[: len(enc) // 2])
    if os.path.exists(REAL_JPEG):
        with pytest.raises(JpegError):
            decode_jpeg(open(REAL_JPEG, "rb").read()[:600])


def test_dispatcher_routes_jpeg():
    img = _test_image(16, 16)
    enc = encode_jpeg(16, 16, 3, img.tobytes())
    w, h, c, _ = decode_image(enc)
    assert (w, h, c) == (16, 16, 3)
