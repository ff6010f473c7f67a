"""METS/GBS backend (B9), image->PDF adaptation (P7), and the
bitmap coverage behind the ``ocr_needed`` column (P10)."""

from pathlib import Path

import pytest
from conftest import needs_reference

from docling_spark.kernels.image_kernel import (
    ImageError,
    image_frames,
    image_to_pdf_pages,
)
from docling_spark.kernels.mets_kernel import MetsError, MetsGbsDoc, parse_mets_gbs
from docling_spark.kernels.pdf_kernel import PdfPage, bitmap_coverage
from docling_spark.operators.convert import convert_one

METS_FIXTURE = Path("/root/reference/tests/data/mets_gbs/32044009881525_select.tar.gz")
WEBP_FIXTURE = Path("/root/reference/tests/data/webp/webp-test.webp")
TIFF_FIXTURE = Path("/root/reference/tests/data/tiff/2206.01062.tif")


# ------------------------------------------------------------- METS/GBS


@needs_reference
def test_mets_page_count_and_validity():
    # reference pins 3 pages (test_backend_mets_gbs.py test_num_pages)
    doc = MetsGbsDoc(METS_FIXTURE.read_bytes())
    assert doc.page_count() == 3


@needs_reference
def test_mets_text_in_rect_reference_pinned():
    # reference: bbox (275,263,1388,311) on page 0 ->
    # "recently become prevalent that he who speaks"
    doc = MetsGbsDoc(METS_FIXTURE.read_bytes())
    p0 = doc.load_page(0)
    assert (
        p0.text_in_rect(275, 263, 1388, 311).strip()
        == "recently become prevalent that he who speaks"
    )


@needs_reference
def test_mets_lines_match_plaintext_ocr_member():
    """Structure parity: hOCR line text must reproduce the archive's own
    plain-text OCR member (modulo whitespace)."""
    doc = MetsGbsDoc(METS_FIXTURE.read_bytes())
    p0 = doc.load_page(0)
    hocr_text = " ".join(c.text for c in p0.line_cells if c.text).split()
    txt = doc._read("00000010.txt").decode("utf-8").split()
    assert hocr_text == txt


@needs_reference
def test_mets_feeds_pdf_path():
    pages = parse_mets_gbs(METS_FIXTURE.read_bytes())
    assert len(pages) == 3
    assert all(p.cells for p in pages)
    # hOCR cells carry OCR confidence through the shared geometry
    assert pages[0].width == 1582 and pages[0].height == 2495


@needs_reference
def test_mets_router():
    r = convert_one("u", METS_FIXTURE.read_bytes())
    assert (r["fmt"], r["status"]) == ("mets_gbs", "success")
    assert "recently become prevalent" in r["md"]
    import gzip

    r2 = convert_one("u", gzip.compress(b"not a book archive"))
    assert (r2["fmt"], r2["status"]) == ("gzip", "skipped")


def test_mets_garbage():
    with pytest.raises(MetsError):
        MetsGbsDoc(b"not even gzip")


# ----------------------------------------------------------- image -> PDF


@needs_reference
def test_webp_single_frame():
    frames = image_frames(WEBP_FIXTURE.read_bytes())
    assert frames == [(2000, 2829)]


@needs_reference
def test_tiff_multipage_frames():
    frames = image_frames(TIFF_FIXTURE.read_bytes())
    assert len(frames) == 2
    assert all(f == (612, 792) for f in frames)


@needs_reference
def test_image_router_success_with_ocr_score():
    # the P7 done-criterion: webp/tiff produce success rows with an
    # ocr_needed score, not 'skipped'
    for fx in (WEBP_FIXTURE, TIFF_FIXTURE):
        r = convert_one("u", fx.read_bytes())
        assert (r["fmt"], r["status"]) == ("image", "success"), fx.name
        assert r["ocr_needed"] == 1.0


def test_image_garbage():
    with pytest.raises(ImageError):
        image_frames(b"RIFF\x00\x00\x00\x00NOPE")


# ----------------------------------------------------------- P10 coverage


def test_bitmap_coverage_none_partial_dominant():
    page = PdfPage(1, 100.0, 100.0)
    assert bitmap_coverage(page) == 0.0
    page.bitmap_rects.append((0, 0, 30, 30))  # 9% coverage
    assert abs(bitmap_coverage(page) - 0.09) < 1e-9
    page.bitmap_rects.append((0, 0, 95, 95))  # dominant coverage
    assert abs(bitmap_coverage(page) - 0.9025) < 1e-9


def test_bitmap_coverage_union_not_sum():
    page = PdfPage(1, 100.0, 100.0)
    # two identical rects: union is 25%, a naive sum would say 50%
    page.bitmap_rects.append((0, 0, 50, 50))
    page.bitmap_rects.append((0, 0, 50, 50))
    assert abs(bitmap_coverage(page) - 0.25) < 1e-9


def test_scanned_pdf_bitmap_rect_from_content_stream():
    """A PDF placing an image XObject via cm+Do must yield a bitmap rect
    at the transformed position."""
    import zlib

    content = b"q 200 0 0 100 50 600 cm /Im0 Do Q BT /F1 10 Tf 72 50 Td (caption) Tj ET"
    comp = zlib.compress(content)
    stream_obj = (
        b"4 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream\nendobj\n"
        % (len(comp), comp)
    )
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /XObject << /Im0 5 0 R >> >> >>\nendobj\n"
        + stream_obj
        + b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 10 /Height 10 /Length 0 >>\nstream\n\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    )
    from docling_spark.kernels.pdf_kernel import parse_pdf

    pages = parse_pdf(pdf)
    assert pages[0].bitmap_rects == [(50.0, 600.0, 250.0, 700.0)]
    assert pages[0].cells[0].text == "caption"
    # a small image on a text page: 200 x 100 of 612 x 792
    assert abs(bitmap_coverage(pages[0]) - 200 * 100 / (612 * 792)) < 1e-9


def test_wav_header_parse():
    """B11-adjacent: real WAV header parsing (rate/channels/bits/
    duration)."""
    import struct

    from docling_spark.operators.multimodal import parse_wav_header

    def make_wav(rate=16000, channels=1, bits=16, seconds=2):
        n = rate * channels * (bits // 8) * seconds
        data = b"\x00" * n
        hdr = b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
        fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, rate,
                                    rate * channels * bits // 8,
                                    channels * bits // 8, bits)
        return hdr + fmt + b"data" + struct.pack("<I", n) + data

    meta = parse_wav_header(make_wav())
    assert meta == {"format": "wav", "sample_rate": 16000, "channels": 1,
                    "bits_per_sample": 16, "duration_sec": 2.0}
    meta = parse_wav_header(make_wav(44100, 2, 16, 1))
    assert (meta["sample_rate"], meta["channels"], meta["duration_sec"]) == (44100, 2, 1.0)
    assert parse_wav_header(b"RIFF....WEBPnot audio") is None


def test_wav_through_the_router():
    """The router's audio route: a WAV whose headers parse is an empty
    success document; a WAV whose fmt chunk is cut short is a failure
    row, not a silent empty success."""
    import struct

    pcm = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    data = b"WAVE" + b"fmt " + struct.pack("<I", len(pcm)) + pcm + b"data" + struct.pack("<I", 8) + bytes(8)
    row = convert_one("https://media.example.com/a.wav", b"RIFF" + struct.pack("<I", len(data)) + data)
    assert (row["fmt"], row["status"], row["error"], row["md"]) == ("audio", "success", None, "")

    cut = b"WAVE" + b"fmt " + struct.pack("<I", len(pcm)) + pcm[:6]
    row = convert_one("https://media.example.com/b.wav", b"RIFF" + struct.pack("<I", len(cut)) + cut)
    assert (row["fmt"], row["status"], row["error"]) == ("audio", "failure", "unparseable audio container")


@needs_reference
def test_mp3_metadata_from_real_fixture():
    """The reference's real audio fixture: the frame-header parse must
    recover the advertised ~10 s duration and the stream parameters."""
    from docling_spark.operators.multimodal import parse_mp3_header

    raw = Path("/root/reference/tests/data/audio/sample_10s.mp3").read_bytes()
    meta = parse_mp3_header(raw)
    assert meta is not None and meta["format"] == "mp3"
    assert meta["sample_rate"] == 44100
    assert 9.0 <= meta["duration_sec"] <= 11.5
    assert parse_mp3_header(b"\x00not audio at all") is None


@needs_reference
def test_mets_cells_carry_from_ocr_flag():
    import tarfile
    fixture = "/root/reference/tests/data/mets_gbs/32044009881525_select.tar.gz"
    if not tarfile.is_tarfile(fixture):
        return
    from docling_spark.kernels.mets_kernel import parse_mets_gbs

    pages = parse_mets_gbs(open(fixture, "rb").read())
    assert pages and pages[0].cells
    assert all(c.from_ocr for c in pages[0].cells)
