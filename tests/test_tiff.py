"""TIFF 6.0 codec (kernels/tiff.py): encoder/decoder round-trips,
LZW early/late width-change variants, the reference's real multi-page
fixture, and the typed-error totality contract."""

import struct
import time
import tracemalloc

import numpy as np
import pytest
from conftest import needs_reference

from docling_spark.kernels.tiff import (
    TiffError,
    _lzw_decode,
    _lzw_encode,
    decode_tiff,
    encode_tiff,
)

FIXTURE = "/root/reference/tests/data/tiff/2206.01062.tif"


# ------------------------------------------------------- round-trips


@pytest.mark.parametrize("comp", [1, 5, 32773])
@pytest.mark.parametrize("ch", [1, 3, 4])
def test_roundtrip_every_compression_and_channel(comp, ch):
    rng = np.random.default_rng(comp * 10 + ch)
    w, h = 83, 57
    img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    img[:20] = 128  # compressible region exercises run coding
    data = encode_tiff([(w, h, ch, img.tobytes())], compression=comp)
    w2, h2, ch2, s = decode_tiff(data)
    assert (w2, h2, ch2) == (w, h, ch)
    assert s == img.tobytes()


def test_multipage_roundtrip_and_page_count():
    pages = [(16, 8, 1, bytes(range(128))), (8, 4, 3, bytes(96))]
    data = encode_tiff(pages, compression=32773)
    dec = [decode_tiff(data, page=i) for i in range(2)]
    assert dec[0][:3] == (16, 8, 1) and dec[0][3] == bytes(range(128))
    assert dec[1][:3] == (8, 4, 3) and dec[1][3] == bytes(96)
    assert decode_tiff(data) == dec[0]  # page 0 is the default
    # the page count is 2: a third page is out of range
    with pytest.raises(TiffError):
        decode_tiff(data, page=2)


def test_lzw_width_change_and_table_reset():
    """Streams long enough to cross the 9->10->11->12-bit switches and
    force a mid-stream table reset round-trip exactly."""
    rng = np.random.default_rng(0)
    big = rng.integers(0, 256, 300_000, dtype=np.uint8).tobytes()
    assert _lzw_decode(_lzw_encode(big), len(big)) == big
    rep = b"abcdxyz" * 50_000
    assert _lzw_decode(_lzw_encode(rep), len(rep)) == rep


def test_lzw_late_change_variant_rejected_by_early_and_vice_versa():
    """The two width-change variants in the wild differ by one table
    entry (PDF's EarlyChange split); decoding with the wrong variant
    must fail typed, and the strip decoder auto-detects."""
    rng = np.random.default_rng(1)
    src = rng.integers(0, 256, 2000, dtype=np.uint8).tobytes()
    enc = _lzw_encode(src)  # encoder emits early-change
    assert _lzw_decode(enc, len(src), early=True) == src
    try:
        out = _lzw_decode(enc, len(src), early=False)
    except TiffError:
        pass  # misaligned bit stream detected
    else:
        assert out != src  # wrong variant can never silently round-trip


# ------------------------------------------------ reference fixture


@needs_reference
def test_reference_fixture_decodes_both_pages():
    """The reference routes this exact multi-frame TIFF through its
    PDF path (docling/backend/pdf_backend.py:56-90). Big-endian, LZW
    with horizontal-differencing predictor, RGBA, 15 strips/page."""
    data = open(FIXTURE, "rb").read()
    with pytest.raises(TiffError):
        decode_tiff(data, 2)
    for page in (0, 1):
        w, h, ch, s = decode_tiff(data, page)
        assert (w, h, ch) == (612, 792, 4)
        a = np.frombuffer(s, dtype=np.uint8).reshape(h, w, ch)
        # a rendered text page: mostly white, fully opaque, with a
        # substantial amount of dark ink
        assert a[:, :, 3].min() == 255
        assert 220 <= a[:, :, :3].mean() <= 250
        assert (a[:, :, 0] < 128).sum() > 10_000


@needs_reference
def test_reference_fixture_through_image_pdf_path():
    """IMAGE->PDF adaptation: one PdfPage per TIFF frame, full-page
    bitmap rect carrying the real decoded luma plane."""
    from docling_spark.kernels.image_kernel import image_to_pdf_pages
    from docling_spark.kernels.pdf_kernel import rasterize_page

    data = open(FIXTURE, "rb").read()
    pages = image_to_pdf_pages(data)
    assert len(pages) == 2
    for p in pages:
        assert (p.width, p.height) == (612.0, 792.0)
        assert p.bitmap_rects == [(0.0, 0.0, 612.0, 792.0)]
        pw, ph, plane = p.bitmap_pixels[0]
        assert (pw, ph) == (612, 792)
    # rasterizing the page reproduces the real image content (not the
    # flat 0x80 placeholder): ink pixels present, background white
    w, h, img = rasterize_page(pages[0])
    assert (w, h) == (612, 792)
    assert (img < 128).sum() > 10_000
    assert img.max() == 255
    src = np.frombuffer(pages[0].bitmap_pixels[0][2], np.uint8).reshape(792, 612)
    assert np.array_equal(img, src)  # 1:1 scale blit is exact


def test_unsized_ifd_does_not_shift_frame_pixels():
    """An IFD without ImageWidth is not a frame, so the frames after it
    must take their pixels from their own IFD, not from the IFD at the
    same frame index."""
    import struct

    from docling_spark.kernels.image_kernel import image_to_pdf_pages

    plane = bytes(range(30))
    data = bytearray(encode_tiff([(4, 4, 1, bytes(16)), (6, 5, 1, plane)]))
    (ifd0,) = struct.unpack("<I", data[4:8])
    (n,) = struct.unpack("<H", data[ifd0 : ifd0 + 2])
    for k in range(n):
        p = ifd0 + 2 + 12 * k
        if struct.unpack("<H", data[p : p + 2])[0] == 256:
            data[p : p + 2] = struct.pack("<H", 65000)  # drop ImageWidth
    pages = image_to_pdf_pages(bytes(data))
    assert [(p.width, p.height) for p in pages] == [(6.0, 5.0)]
    assert pages[0].bitmap_pixels == [(6, 5, plane)]

# ---------------------------------------------------------- totality


def test_totality_on_garbage():
    ok = encode_tiff([(8, 8, 1, bytes(64))])
    cases = [
        b"",
        b"II*\x00",
        b"II*\x00\x08\x00\x00\x00",
        b"MM\x00*" + bytes(20),
        ok[:20],
        ok[:50] + b"\xff" * 8,
        b"II*\x00" + b"\xff" * 64,
    ]
    # bit-flip sweep over a valid file
    for i in range(4, len(ok), 7):
        b = bytearray(ok)
        b[i] ^= 0xFF
        cases.append(bytes(b))
    for junk in cases:
        try:
            w, h, c, s = decode_tiff(junk)
            assert 0 < w and 0 < h and len(s) == w * h * c
        except TiffError:
            pass  # typed — never struct.error/IndexError/KeyError


# ------------------------------------------------- tiled / planar-2 (r5)


@pytest.mark.parametrize("comp", [1, 5, 32773])
@pytest.mark.parametrize("ch", [1, 3])
def test_tiled_roundtrip(comp, ch):
    """TIFF 6.0 §15 tiled layout: non-multiple-of-tile dimensions force
    zero-padded edge tiles on both axes."""
    rng = np.random.default_rng(400 + comp + ch)
    w, h = 75, 41  # 16x16 tiles -> 5 x 3 grid, padded right + bottom
    img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    img[:10] = 64
    data = encode_tiff([(w, h, ch, img.tobytes())], compression=comp,
                       tile_size=16)
    w2, h2, ch2, s = decode_tiff(data)
    assert (w2, h2, ch2) == (w, h, ch)
    assert s == img.tobytes()


@pytest.mark.parametrize("comp", [1, 5, 32773])
def test_planar2_roundtrip(comp):
    """PlanarConfiguration 2: per-component strip planes interleave
    back to the same samples the planar-1 writer produces."""
    rng = np.random.default_rng(500 + comp)
    w, h = 53, 37
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    data = encode_tiff([(w, h, 3, img.tobytes())], compression=comp,
                       rows_per_strip=16, planar=2)
    w2, h2, ch2, s = decode_tiff(data)
    assert (w2, h2, ch2) == (w, h, 3)
    assert s == img.tobytes()


def test_tiled_totality_on_garbage():
    """Bit-flip sweep over a valid tiled file stays typed-total."""
    src = np.arange(48 * 32, dtype=np.uint8).reshape(32, 48, 1)
    ok = encode_tiff([(48, 32, 1, src.tobytes())], tile_size=16)
    for i in range(4, len(ok), 5):
        b = bytearray(ok)
        b[i] ^= 0xFF
        try:
            w, h, c, s = decode_tiff(bytes(b))
            assert 0 < w and 0 < h and len(s) == w * h * c
        except TiffError:
            pass  # typed — never struct.error/IndexError/KeyError


def test_tile_far_beyond_the_image_is_rejected_before_decoding():
    """A 1x1 image declaring 16384x16384 tiles would allocate ~268 MB
    per tile; the tile guard is bounded by the image size."""
    data = bytearray(encode_tiff([(1, 1, 1, b"\x80")], tile_size=16))
    (ifd,) = struct.unpack_from("<I", data, 4)
    (n,) = struct.unpack_from("<H", data, ifd)
    for k in range(n):
        entry = ifd + 2 + 12 * k
        tag, typ = struct.unpack_from("<HH", data, entry)
        if tag in (322, 323):
            struct.pack_into("<H" if typ == 3 else "<I", data, entry + 8, 16384)
    tracemalloc.start()
    t0 = time.perf_counter()
    try:
        with pytest.raises(TiffError, match="bad tile dimensions"):
            decode_tiff(bytes(data))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert time.perf_counter() - t0 < 1.0
    assert peak < 64 << 20
