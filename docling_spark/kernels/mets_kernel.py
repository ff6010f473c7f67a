"""METS/GBS backend (B9): Google Books Search export archives.

Behavioral port of /root/reference/docling/backend/mets_gbs_backend.py
(tar.gz container: a METS XML manifest with PROFILE="gbs" mapping page
numbers to per-page image + hOCR files; text comes from the coordOCR
hOCR members' ocr_line / ocrx_word spans with ``bbox`` + ``x_wconf``
title attributes).

Differences from the reference, by sandbox constraint: page images
(.tif) are NOT decoded — PIL is unavailable — so page size comes from
the hOCR ocr_page bbox (the reference resizes the image to exactly
that size anyway, mets_gbs_backend.py:318-328) and the raw image bytes
are exposed as an opaque binary for a future codec. Everything textual
(page map, cells, rects, confidences) is parsed fully.
"""

from __future__ import annotations

import io
import re
import tarfile
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

_METS_NS = "{http://www.loc.gov/METS/}"
_XLINK_HREF = "{http://www.w3.org/1999/xlink}href"


class MetsError(Exception):
    pass


@dataclass
class OcrCell:
    """hOCR cell, TOPLEFT origin."""

    text: str
    l: float
    t: float
    r: float
    b: float
    confidence: float = 1.0


@dataclass
class MetsPage:
    page_no: int  # 0-indexed
    width: float
    height: float
    line_cells: list[OcrCell] = field(default_factory=list)
    word_cells: list[OcrCell] = field(default_factory=list)
    image_name: str | None = None

    def text_in_rect(self, l: float, t: float, r: float, b: float) -> str:
        """Line cells overlapping the query rect by >0.5 of their own
        area, joined with spaces (mets_gbs_backend.py:63-86)."""
        out = []
        for c in self.line_cells:
            area = max(c.r - c.l, 0) * max(c.b - c.t, 0)
            if area <= 0:
                continue
            il = max(c.l, l)
            it = max(c.t, t)
            ir = min(c.r, r)
            ib = min(c.b, b)
            inter = max(ir - il, 0) * max(ib - it, 0)
            if inter / area > 0.5:
                out.append(c.text)
        return " ".join(out)


def _extract_rect(title: str) -> tuple[float, float, float, float] | None:
    """'bbox 279 177 306 214;x_wconf 97' -> (l, t, r, b)."""
    for part in title.split(";"):
        part = part.strip()
        if part.startswith("bbox "):
            try:
                l, t, r, b = (int(v) for v in part.split()[1:5])
                return float(l), float(t), float(r), float(b)
            except (ValueError, IndexError):
                return None
    return None


def _extract_confidence(title: str) -> float:
    for part in title.split(";"):
        part = part.strip()
        if part.startswith("x_wconf"):
            try:
                return float(part.split()[1]) / 100.0
            except (ValueError, IndexError):
                return 1.0
    return 1.0


def _local(tag) -> str:
    return tag.rsplit("}", 1)[-1] if isinstance(tag, str) else ""


class MetsGbsDoc:
    """One GBS tar.gz archive: METS manifest + per-page hOCR."""

    def __init__(self, data: bytes):
        try:
            self._tar = tarfile.open(fileobj=io.BytesIO(data), mode="r:gz")
        except (tarfile.TarError, OSError) as exc:
            raise MetsError(f"not a tar.gz: {exc}") from exc
        self._members = {m.name: m for m in self._tar.getmembers() if m.isfile()}

        root = None
        for name in self._members:
            if name.endswith(".xml"):
                try:
                    candidate = ET.fromstring(self._read(name))
                except ET.ParseError:
                    continue
                if (
                    candidate.tag == f"{_METS_NS}mets"
                    and candidate.get("PROFILE") == "gbs"
                ):
                    root = candidate
                    break
        if root is None:
            raise MetsError("no METS manifest with PROFILE='gbs'")

        # fileGrp USE in {image, OCR, coordOCR} -> per-file info
        files_by_id: dict[str, tuple[str, str]] = {}  # id -> (use, href)
        for grp in root.iter(f"{_METS_NS}fileGrp"):
            use = grp.get("USE")
            if use not in ("image", "OCR", "coordOCR"):
                continue
            for f in grp.iter(f"{_METS_NS}file"):
                fid = f.get("ID")
                flocat = f.find(f"{_METS_NS}FLocat")
                href = flocat.get(_XLINK_HREF) if flocat is not None else None
                if fid and href:
                    files_by_id[fid] = (use, href)

        # page divs -> (page_no, files per use)
        self.page_map: dict[int, dict[str, str]] = {}
        for div in root.iter(f"{_METS_NS}div"):
            if div.get("TYPE") != "page":
                continue
            order = div.get("ORDER")
            if not order or not order.isdigit():
                continue
            page_no = int(order) - 1
            entry: dict[str, str] = {}
            for fptr in div.findall(f"{_METS_NS}fptr"):
                info = files_by_id.get(fptr.get("FILEID", ""))
                if info:
                    entry[info[0]] = info[1]
            self.page_map[page_no] = entry

        if not self.page_map:
            raise MetsError("METS manifest has no page divs")

    def _read(self, name: str) -> bytes:
        f = self._tar.extractfile(self._members[name])
        return f.read() if f is not None else b""

    def page_count(self) -> int:
        return len(self.page_map)

    def image_bytes(self, page_no: int) -> bytes | None:
        """Raw page image (opaque binary — no codec in this sandbox)."""
        href = self.page_map.get(page_no, {}).get("image")
        if href and href in self._members:
            return self._read(href)
        return None

    def load_page(self, page_no: int) -> MetsPage:
        entry = self.page_map.get(page_no)
        if entry is None:
            raise MetsError(f"no page {page_no}")
        href = entry.get("coordOCR")
        if not href or href not in self._members:
            raise MetsError(f"page {page_no} has no coordOCR file")
        try:
            ocr_root = ET.fromstring(self._read(href))
        except ET.ParseError as exc:
            raise MetsError(f"hOCR parse: {exc}") from exc

        width = height = 0.0
        lines: list[OcrCell] = []
        words: list[OcrCell] = []
        for el in ocr_root.iter():
            cls = el.get("class", "")
            if _local(el.tag) == "div" and cls == "ocr_page":
                rect = _extract_rect(el.get("title", ""))
                if rect:
                    width, height = rect[2] - rect[0], rect[3] - rect[1]
            elif _local(el.tag) == "span" and cls in ("ocr_line", "ocrx_word"):
                rect = _extract_rect(el.get("title", ""))
                if rect is None:
                    continue
                cell = OcrCell(
                    text="".join(el.itertext()).strip(),
                    l=rect[0], t=rect[1], r=rect[2], b=rect[3],
                    confidence=_extract_confidence(el.get("title", "")),
                )
                (lines if cls == "ocr_line" else words).append(cell)
        return MetsPage(
            page_no=page_no,
            width=width,
            height=height,
            line_cells=lines,
            word_cells=words,
            image_name=entry.get("image"),
        )

    def close(self) -> None:
        self._tar.close()


_WS_RE = re.compile(r"\s+")


def parse_mets_gbs(data: bytes):
    """bytes -> list of pdf_kernel.PdfPage, feeding the shared PDF
    layout/assembly path (hOCR lines become BOTTOMLEFT text cells; cell
    size approximated by line bbox height, like a rasterized font)."""
    from .pdf_kernel import PdfPage, TextCell

    doc = MetsGbsDoc(data)
    pages: list[PdfPage] = []
    try:
        for page_no in sorted(doc.page_map):
            mp = doc.load_page(page_no)
            page = PdfPage(page_no + 1, mp.width, mp.height)
            for c in mp.line_cells:
                if not c.text:
                    continue
                page.cells.append(
                    TextCell(
                        text=_WS_RE.sub(" ", c.text),
                        l=c.l,
                        b=mp.height - c.b,  # TOPLEFT -> BOTTOMLEFT
                        r=c.r,
                        t=mp.height - c.t,
                        size=max(c.b - c.t, 1.0),
                        from_ocr=True,  # hOCR-sourced (P12 provenance)
                    )
                )
            pages.append(page)
    finally:
        doc.close()
    if not pages:
        raise MetsError("no pages")
    return pages


def book_pages(data: bytes) -> tuple[list, str | None]:
    """(pages, None) for a METS/GBS book archive; ([], reason) for any
    other gzip, which the router skips instead of failing."""
    try:
        return parse_mets_gbs(data), None
    except MetsError as exc:
        return [], str(exc)
