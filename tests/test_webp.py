"""WebP decode via the system libwebp (kernels/webp.py, ctypes):
the reference's real fixture, lossless roundtrips, and totality.
Skips cleanly on hosts without libwebp — the pipeline then keeps the
pre-r4 stub behavior (decoded=false rows), which other tests pin."""


import numpy as np
import pytest
from conftest import needs_reference

from docling_spark.kernels.webp import (
    WebpError,
    decode_webp,
    encode_webp_lossless,
    webp_available,
)

pytestmark = pytest.mark.skipif(
    not webp_available(), reason="no libwebp on this host"
)

FIXTURE = "/root/reference/tests/data/webp/webp-test.webp"


@needs_reference
def test_reference_fixture_decodes():
    """The reference feeds this exact VP8-lossy WebP through its image
    pipeline; it is a rendered white text page (verified visually)."""
    w, h, c, s = decode_webp(open(FIXTURE, "rb").read())
    assert (w, h, c) == (2000, 2829, 4)
    a = np.frombuffer(s, np.uint8).reshape(h, w, 4)
    assert a[:, :, 3].min() == 255           # opaque
    assert a[:, :, :3].mean() > 240          # mostly white page
    assert (a[:, :, 0] < 128).sum() > 5_000  # with real dark text ink


def test_lossless_roundtrip():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (37, 53, 4), dtype=np.uint8)
    img[..., 3] = 255
    w, h, c, s = decode_webp(encode_webp_lossless(53, 37, img.tobytes()))
    assert (w, h, c) == (53, 37, 4)
    assert s == img.tobytes()


def test_totality_on_garbage():
    ok = encode_webp_lossless(4, 4, bytes(64))
    cases = [
        b"",
        b"RIFF",
        b"RIFF\x00\x00\x00\x00WEBP",
        b"RIFF\x10\x00\x00\x00WEBPVP8 " + b"\xff" * 16,
        ok[:12],
        ok[:20] + b"\x00" * 8,
    ]
    for i in range(4, len(ok), 5):
        b = bytearray(ok)
        b[i] ^= 0xFF
        cases.append(bytes(b))
    for junk in cases:
        try:
            w, h, c, s = decode_webp(junk)
            assert len(s) == w * h * c
        except WebpError:
            pass  # typed, never a crash


def test_media_corpus_carries_real_webp(spark):
    """The synthetic corpus rotates real WebP payloads in, and the
    feature path decodes them (decoded=true, true dimensions)."""
    from docling_spark.operators.multimodal import (
        _synth_payload,
        extract_media_features,
        sniff_mime,
        synth_media,
    )

    kind, payload = _synth_payload(11)  # i%4==3, (i//4)%3==2 -> webp
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WEBP"
    assert sniff_mime(payload) == "image/webp"
    feats = {r.media_id: r for r in
             extract_media_features(synth_media(spark, 16)).collect()}
    assert feats[11].decoded
    assert (feats[11].width, feats[11].height) == (40 + 11 % 32, 24 + 11 % 24)
