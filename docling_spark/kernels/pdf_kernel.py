"""Minimal from-scratch PDF text extraction (stdlib only).

Plays the role of the reference's pdfium backend
(/root/reference/docling/backend/pypdfium2_backend.py): open document,
enumerate pages, produce positioned text cells per page. The sandbox has
no pypdfium2/C++ parser, so this is a real — deliberately small — PDF
reader for the "programmatic text" subset that matters for a crawl
pipeline:

* classic cross-reference tables, cross-reference streams (PDF 1.5+),
  AND a lenient full-file object scan (crawl PDFs are frequently
  truncated or have broken xref offsets);
* object streams (``/ObjStm``): compressed-object containers are
  expanded after the scan, so post-2005 files whose catalog/page/font
  dicts live inside them parse fully;
* FlateDecode (with PNG predictors), ASCIIHexDecode and ASCII85Decode
  filter chains; unfiltered streams;
* page-tree walk with MediaBox AND Resources inheritance;
* content-stream text interpreter: BT/ET, Tf, Td, TD, TL, Tm, T*,
  Tj, ', ", TJ with full text-matrix tracking;
* font-aware string decoding: Type0/Identity-H two-byte CIDs mapped
  through the embedded /ToUnicode CMap (bfchar + bfrange incl. array
  form), simple-font /Differences encodings via an AGL subset, and
  real advance widths from CIDFont /W and simple-font /Widths.

Out of scope (documented, gated): encrypted files (detected from the
trailer /Encrypt and raised as a typed error -> failure row, never
garbled output), embedded-CMap (non-Identity) code space parsing beyond
the 1/2-byte heuristic, glyph outlines/rasterization, CTM tracking for
rotated/scaled pages. Cells from degraded files are caught by the
parse-quality score (pdf_layout.rate_text_quality) instead of crashing
— errors-as-data, like the rest of the engine.

Geometry: emitted cells use BOTTOMLEFT origin like pdfium
(pypdfium2_backend.py:140-151); ``PdfPage.cells_top_left`` converts.
Advance widths use a flat per-glyph estimate (0.5 em) because embedded
font metrics are not parsed; the downstream merge threshold is relative
to cell height, so line merging is insensitive to the approximation.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator
from dataclasses import dataclass, field


class PdfError(Exception):
    pass


# ------------------------------------------------------------ object model


@dataclass(frozen=True)
class Ref:
    num: int


class Name(str):
    """PDF name object (distinct from string values)."""


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d = self.data
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # '%' comment
                while self.pos < n and d[self.pos] not in (0x0A, 0x0D):
                    self.pos += 1
            else:
                return

    def peek_bytes(self, n: int) -> bytes:
        return self.data[self.pos : self.pos + n]

    def parse_object(self):
        self._skip_ws()
        d, p = self.data, self.pos
        if p >= len(d):
            raise PdfError("eof")
        c = d[p]
        if c == 0x2F:  # /Name
            return self._parse_name()
        if c == 0x28:  # (string)
            return self._parse_literal_string()
        if c == 0x3C:  # << dict or <hex>
            if d[p : p + 2] == b"<<":
                return self._parse_dict()
            return self._parse_hex_string()
        if c == 0x5B:  # [array]
            return self._parse_array()
        if d[p : p + 4] == b"true":
            self.pos += 4
            return True
        if d[p : p + 5] == b"false":
            self.pos += 5
            return False
        if d[p : p + 4] == b"null":
            self.pos += 4
            return None
        return self._parse_number_or_ref()

    def _parse_name(self) -> Name:
        d = self.data
        self.pos += 1
        start = self.pos
        n = len(d)
        out = []
        while self.pos < n:
            c = d[self.pos]
            if c in _WS or c in _DELIM:
                break
            if c == 0x23 and self.pos + 2 < n:  # #xx escape
                out.append(d[start : self.pos])
                out.append(bytes([int(d[self.pos + 1 : self.pos + 3], 16)]))
                self.pos += 3
                start = self.pos
            else:
                self.pos += 1
        out.append(d[start : self.pos])
        return Name(b"".join(out).decode("latin-1"))

    def _parse_literal_string(self) -> bytes:
        d = self.data
        self.pos += 1
        depth = 1
        out = bytearray()
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    self.pos += 1
                elif e in b"()\\":
                    out.append(e)
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    oct_digits = bytearray()
                    while len(oct_digits) < 3 and self.pos < n and 0x30 <= d[self.pos] <= 0x37:
                        oct_digits.append(d[self.pos])
                        self.pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    break
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        return bytes(out)

    def _parse_hex_string(self) -> bytes:
        d = self.data
        self.pos += 1
        end = d.index(b">", self.pos)
        hexs = re.sub(rb"[^0-9A-Fa-f]", b"", d[self.pos : end])
        self.pos = end + 1
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii"))

    def _parse_dict(self) -> dict:
        self.pos += 2
        out: dict = {}
        while True:
            self._skip_ws()
            if self.peek_bytes(2) == b">>":
                self.pos += 2
                return out
            key = self.parse_object()
            if not isinstance(key, Name):
                raise PdfError(f"dict key is not a name: {key!r}")
            out[str(key)] = self.parse_object()

    def _parse_array(self) -> list:
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.pos < len(self.data) and self.data[self.pos] == 0x5D:
                self.pos += 1
                return out
            out.append(self.parse_object())

    _NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")

    def _parse_number_or_ref(self):
        d = self.data
        m = self._NUM_RE.match(d, self.pos)
        if not m:
            raise PdfError(f"bad token at {self.pos}: {d[self.pos:self.pos+20]!r}")
        tok = m.group()
        self.pos = m.end()
        if b"." in tok:
            return float(tok)
        # "N G R" indirect reference lookahead
        save = self.pos
        self._skip_ws()
        m2 = self._NUM_RE.match(d, self.pos)
        if m2:
            after = m2.end()
            probe = _Lexer(d, after)
            probe._skip_ws()
            if probe.peek_bytes(1) == b"R" and (
                probe.pos + 1 >= len(d) or d[probe.pos + 1] in _WS or d[probe.pos + 1] in _DELIM
            ):
                self.pos = probe.pos + 1
                return Ref(int(tok))
        self.pos = save
        return int(tok)


# ------------------------------------------------------------- document


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_RE = re.compile(rb"stream\r?\n")


class PdfDocument:
    """Object store + page tree for one PDF file."""

    def __init__(self, data: bytes):
        if not data.startswith(b"%PDF-"):
            raise PdfError("missing %PDF header")
        self.data = data
        self.objects: dict[int, tuple[object, bytes | None]] = {}
        self._scan_objects()
        self._check_encryption()
        self._expand_object_streams()
        if not self.objects:
            raise PdfError("no objects found")

    def _scan_objects(self) -> None:
        """Lenient full-file scan for ``N G obj`` — tolerates broken or
        absent xref tables, which crawl-corpus PDFs routinely have."""
        d = self.data
        for m in _OBJ_RE.finditer(d):
            num = int(m.group(1))
            lex = _Lexer(d, m.end())
            try:
                value = lex.parse_object()
            except PdfError:
                continue
            stream = None
            lex._skip_ws()
            if lex.peek_bytes(6) == b"stream":
                sm = _STREAM_RE.match(d, lex.pos)
                if sm:
                    start = sm.end()
                    length = None
                    if isinstance(value, dict):
                        length = self.resolve_later(value.get("Length"))
                    if isinstance(length, int) and 0 <= length <= len(d) - start:
                        stream = d[start : start + length]
                        # trust /Length only if endstream follows
                        tail = d[start + length : start + length + 20]
                        if b"endstream" not in tail:
                            stream = None
                    if stream is None:
                        end = d.find(b"endstream", start)
                        if end == -1:
                            end = len(d)
                        stream = d[start:end].rstrip(b"\r\n")
            self.objects[num] = (value, stream)

    # /Length may itself be an indirect ref — resolvable only after the
    # scan; during the scan fall back to endstream search.
    def resolve_later(self, v):
        if isinstance(v, Ref):
            got = self.objects.get(v.num)
            return got[0] if got else None
        return v

    def resolve(self, v):
        seen = 0
        while isinstance(v, Ref):
            got = self.objects.get(v.num)
            v = got[0] if got else None
            seen += 1
            if seen > 32:
                raise PdfError("reference cycle")
        return v

    def _check_encryption(self) -> None:
        """Encrypted files are an explicit typed failure, not garbled
        cells: /Encrypt appears in the trailer dict (classic xref) or
        the /Type /XRef stream dict (PDF 1.5+)."""
        # only the LAST *parseable* trailer is active (incremental
        # updates append a new one; a decrypted-and-resaved file may
        # carry a stale /Encrypt in a superseded trailer). Compressed
        # stream bytes can contain the literal b"trailer", so walk the
        # matches from the end and take the first that actually parses
        # as a dict — a raw-byte false positive must not shadow the
        # real trailer and let /Encrypt go undetected.
        matches = list(re.finditer(rb"trailer", self.data))
        for tm in reversed(matches):
            try:
                trailer = _Lexer(self.data, tm.end()).parse_object()
            except PdfError:
                continue
            if isinstance(trailer, dict):
                if trailer.get("Encrypt") is not None:
                    raise PdfError("encrypted pdf")
                break
        for value, _ in self.objects.values():
            if (
                isinstance(value, dict)
                and str(value.get("Type")) == "XRef"
                and value.get("Encrypt") is not None
            ):
                raise PdfError("encrypted pdf")

    def _expand_object_streams(self) -> None:
        """Expand /ObjStm containers: modern writers pack the catalog,
        page tree, and font dicts into compressed object streams (the
        reason classic 'N G obj' scans see an empty document on
        post-2005 files). The container header is N (obj_num, offset)
        pairs; each object begins at First + offset."""
        for num, (value, stream) in list(self.objects.items()):
            if not (
                isinstance(value, dict)
                and str(value.get("Type")) == "ObjStm"
                and stream is not None
            ):
                continue
            try:
                data = self.stream_bytes(num)
            except PdfError:
                continue
            n = self.resolve(value.get("N"))
            first = self.resolve(value.get("First"))
            if not isinstance(n, int) or not isinstance(first, int):
                continue
            header = _Lexer(data)
            pairs: list[tuple[int, int]] = []
            try:
                for _ in range(n):
                    onum = header.parse_object()
                    off = header.parse_object()
                    pairs.append((int(onum), int(off)))
            except (PdfError, ValueError, TypeError):
                pass  # keep whatever pairs parsed before the damage
            for onum, off in pairs:
                if 0 <= first + off < len(data):
                    try:
                        obj = _Lexer(data, first + off).parse_object()
                    except PdfError:
                        continue
                    # top-level 'N G obj' wins over compressed copies
                    # (incremental updates append uncompressed objects)
                    if onum not in self.objects:
                        self.objects[onum] = (obj, None)

    @staticmethod
    def _png_unpredict(data: bytes, columns: int, bpp: int = 1) -> bytes:
        """Reverse PNG row predictors (Predictor >= 10) — used by
        Flate-compressed xref/object streams."""
        row_len = columns * bpp
        out = bytearray()
        prev = bytearray(row_len)
        pos = 0
        while pos + 1 + row_len <= len(data) + row_len and pos < len(data):
            ftype = data[pos]
            row = bytearray(data[pos + 1 : pos + 1 + row_len])
            pos += 1 + row_len
            if ftype == 1:  # Sub
                for i in range(bpp, len(row)):
                    row[i] = (row[i] + row[i - bpp]) & 0xFF
            elif ftype == 2:  # Up
                for i in range(len(row)):
                    row[i] = (row[i] + prev[i]) & 0xFF
            elif ftype == 3:  # Average
                for i in range(len(row)):
                    left = row[i - bpp] if i >= bpp else 0
                    row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
            elif ftype == 4:  # Paeth
                for i in range(len(row)):
                    a = row[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    c = prev[i - bpp] if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    row[i] = (row[i] + pred) & 0xFF
            out += row
            prev = row
        return bytes(out)

    def stream_bytes(self, obj_num: int) -> bytes:
        value, stream = self.objects[obj_num]
        if stream is None:
            return b""
        filt = self.resolve(value.get("Filter")) if isinstance(value, dict) else None
        filters = filt if isinstance(filt, list) else ([filt] if filt else [])
        parms = self.resolve(value.get("DecodeParms")) if isinstance(value, dict) else None
        parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
        out = stream
        for f, pm in zip(filters, parms_list):
            f = str(self.resolve(f))
            pm = self.resolve(pm)
            if f == "FlateDecode":
                try:
                    out = zlib.decompress(out)
                except zlib.error as e:
                    raise PdfError(f"flate: {e}") from e
                if isinstance(pm, dict):
                    pred = self.resolve(pm.get("Predictor")) or 1
                    if isinstance(pred, int) and pred >= 10:
                        cols = self.resolve(pm.get("Columns")) or 1
                        colors = self.resolve(pm.get("Colors")) or 1
                        bits = self.resolve(pm.get("BitsPerComponent")) or 8
                        bpp = max((colors * bits) // 8, 1)
                        out = self._png_unpredict(out, int(cols), bpp)
            elif f == "ASCIIHexDecode":
                hexs = re.sub(rb"[^0-9A-Fa-f]", b"", out.split(b">")[0])
                if len(hexs) % 2:
                    hexs += b"0"
                out = bytes.fromhex(hexs.decode("ascii"))
            elif f == "ASCII85Decode":
                import base64

                body = out.split(b"~>")[0]
                body = re.sub(rb"\s", b"", body)
                if body.startswith(b"<~"):
                    body = body[2:]
                try:
                    out = base64.a85decode(body)
                except ValueError as e:
                    raise PdfError(f"a85: {e}") from e
            else:
                raise PdfError(f"unsupported filter {f}")
        return out

    def _catalog(self) -> dict:
        # prefer trailer /Root; fall back to scanning for /Type /Catalog
        m = None
        for tm in re.finditer(rb"trailer", self.data):
            m = tm
        if m:
            try:
                lex = _Lexer(self.data, m.end())
                trailer = lex.parse_object()
                root = self.resolve(trailer.get("Root"))
                if isinstance(root, dict):
                    return root
            except PdfError:
                pass
        # PDF 1.5+: no 'trailer' keyword; /Root lives in the xref stream dict
        for value, _ in self.objects.values():
            if isinstance(value, dict) and str(value.get("Type")) == "XRef":
                root = self.resolve(value.get("Root"))
                if isinstance(root, dict):
                    return root
        for value, _ in self.objects.values():
            if isinstance(value, dict) and str(value.get("Type")) == "Catalog":
                return value
        raise PdfError("no catalog")

    def page_dicts(self) -> list[dict]:
        catalog = self._catalog()
        pages_root = self.resolve(catalog.get("Pages"))
        out: list[dict] = []

        def walk(node, inherited_mediabox, inherited_resources, depth=0):
            if not isinstance(node, dict) or depth > 64:
                return
            mediabox = self.resolve(node.get("MediaBox")) or inherited_mediabox
            resources = self.resolve(node.get("Resources")) or inherited_resources
            t = str(node.get("Type"))
            if t == "Pages":
                for kid in self.resolve(node.get("Kids")) or []:
                    walk(self.resolve(kid), mediabox, resources, depth + 1)
            elif t == "Page":
                page = dict(node)
                page["MediaBox"] = mediabox or [0, 0, 612, 792]
                if resources is not None:
                    page["Resources"] = resources
                out.append(page)

        walk(pages_root, None, None)
        if not out:
            # damaged page tree: treat every /Type /Page object as a page
            for value, _ in self.objects.values():
                if isinstance(value, dict) and str(value.get("Type")) == "Page":
                    page = dict(value)
                    page["MediaBox"] = self.resolve(value.get("MediaBox")) or [0, 0, 612, 792]
                    out.append(page)
        return out

    def page_fonts(self, page: dict) -> dict:
        """Resolve the page's /Resources /Font dict into FontInfo
        objects keyed by resource name (e.g. 'F1')."""
        res = self.resolve(page.get("Resources"))
        if not isinstance(res, dict):
            return {}
        fdict = self.resolve(res.get("Font"))
        if not isinstance(fdict, dict):
            return {}
        out = {}
        for name, fref in fdict.items():
            fd = self.resolve(fref)
            if isinstance(fd, dict):
                try:
                    out[str(name)] = self._font_info(fd)
                except PdfError:
                    continue
        return out

    def _font_info(self, fd: dict) -> "FontInfo":
        fi = FontInfo()
        base = self.resolve(fd.get("BaseFont"))
        desc0 = self.resolve(fd.get("DescendantFonts"))
        if (base is None or not str(base)) and isinstance(desc0, list) and desc0:
            d0 = self.resolve(desc0[0])
            if isinstance(d0, dict):
                base = self.resolve(d0.get("BaseFont"))
        fi.base_font = str(base or "")
        subtype = str(self.resolve(fd.get("Subtype")))
        if subtype == "Type0":
            fi.code_bytes = 2
            fi.default_width = 1000.0
            desc = self.resolve(fd.get("DescendantFonts"))
            if isinstance(desc, list) and desc:
                df = self.resolve(desc[0])
                if isinstance(df, dict):
                    # docling-parse reports the DESCENDANT CIDFont's
                    # BaseFont (subset-prefixed face name) rather than
                    # the composite's "...-Identity-H" alias — the
                    # name its GLYPH<c=..,font=..> markers carry
                    # (groundtruth redp5110_sampled.md:91)
                    dbase = self.resolve(df.get("BaseFont"))
                    if dbase is not None and str(dbase):
                        fi.base_font = str(dbase)
                    dw = self.resolve(df.get("DW"))
                    if isinstance(dw, (int, float)):
                        fi.default_width = float(dw)
                    w = self.resolve(df.get("W"))
                    if isinstance(w, list):
                        fi.widths = _parse_cid_widths(w, self.resolve)
        else:
            enc = self.resolve(fd.get("Encoding"))
            base_name = None
            if isinstance(enc, Name):
                base_name = str(enc)
            elif isinstance(enc, dict):
                be = self.resolve(enc.get("BaseEncoding"))
                if isinstance(be, Name):
                    base_name = str(be)
            if base_name == "MacRomanEncoding":
                fi.base_encoding = "mac_roman"
            elif base_name == "WinAnsiEncoding":
                fi.base_encoding = "cp1252"
            if isinstance(enc, dict):
                diffs = self.resolve(enc.get("Differences"))
                if isinstance(diffs, list):
                    fi.diff_map = {}
                    code = 0
                    for el in diffs:
                        el = self.resolve(el)
                        if isinstance(el, (int, float)):
                            code = int(el)
                        elif isinstance(el, Name):
                            ch = _glyph_to_char(str(el))
                            if ch is not None:
                                fi.diff_map[code] = ch
                            else:
                                # non-AGL glyph name (subset fonts name
                                # glyphs g3/g115/...): docling-parse
                                # keeps the glyph name itself, slash
                                # included, as the extracted text —
                                # see groundtruth redp5110_sampled.md
                                # ("/g115/g3 /g40...")
                                fi.diff_map[code] = "/" + str(el)
                            code += 1
            first_char = self.resolve(fd.get("FirstChar"))
            widths = self.resolve(fd.get("Widths"))
            if isinstance(first_char, int) and isinstance(widths, list):
                fi.widths = {}
                for j, w in enumerate(widths):
                    w = self.resolve(w)
                    if isinstance(w, (int, float)):
                        fi.widths[first_char + j] = float(w)
        bname = fi.base_font.lower()
        # strip the subset prefix (AAAAAB+SFBX1000 -> sfbx1000); TeX
        # faces encode weight positionally: cmbx/sfbx = bold extended,
        # cmb = bold — alongside the usual Bold/Black/Heavy names
        bname = bname.rsplit("+", 1)[-1]
        fi.bold = bool(
            any(k in bname for k in ("bold", "black", "heavy", "semibold", "demi"))
            or re.search(r"(?:cm|sf)bx?\d", bname)
        )
        tu = fd.get("ToUnicode")
        if isinstance(tu, Ref) and tu.num in self.objects:
            try:
                cmap_data = self.stream_bytes(tu.num)
                mapping, _cmap_bytes = parse_tounicode_cmap(cmap_data)
                if mapping:
                    fi.to_unicode = mapping
                # NOTE: the CMap's codespace does NOT change code_bytes:
                # simple (Type1/TrueType) fonts always use 1-byte codes
                # per spec, even when a generator emits a <0000><FFFF>
                # codespace in the ToUnicode CMap; only /Subtype /Type0
                # fonts decode 2-byte CIDs.
            except PdfError:
                pass
        return fi

    def page_image_xobjects(self, page: dict) -> frozenset:
        """Names of /Subtype /Image XObjects in the page resources —
        `Do` on these marks a bitmap placement."""
        res = self.resolve(page.get("Resources"))
        if not isinstance(res, dict):
            return frozenset()
        xobjs = self.resolve(res.get("XObject"))
        if not isinstance(xobjs, dict):
            return frozenset()
        names = set()
        for name, ref in xobjs.items():
            xd = self.resolve(ref)
            if isinstance(xd, dict) and str(self.resolve(xd.get("Subtype"))) == "Image":
                names.add(str(name))
        return frozenset(names)

    def page_content(self, page: dict) -> bytes:
        contents = page.get("Contents")
        # /Contents may be a stream ref, an array of stream refs, or a
        # ref to an indirect ARRAY object (seen in Redbooks-style PDFs)
        if isinstance(contents, Ref):
            resolved = self.resolve(contents)
            refs = resolved if isinstance(resolved, list) else [contents]
        elif isinstance(contents, list):
            refs = contents
        else:
            refs = [contents]
        parts = []
        for r in refs:
            if isinstance(r, Ref) and r.num in self.objects:
                try:
                    parts.append(self.stream_bytes(r.num))
                except PdfError:
                    continue
        return b"\n".join(parts)


# ------------------------------------------------------------------ fonts


# AGL subset: glyph names seen in crawl-PDF /Differences arrays. Names
# of the form uniXXXX / uXXXX[XX] are handled programmatically; ASCII
# letters/digits name themselves.
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…",
    # ligature glyph names expand to their ASCII sequences, matching
    # pdfium's text extraction (and the reference groundtruth)
    "fi": "fi", "fl": "fl", "ff": "ff", "ffi": "ffi", "ffl": "ffl",
    "dagger": "†", "daggerdbl": "‡", "trademark": "™",
    "copyright": "©", "registered": "®", "degree": "°",
    "eacute": "é", "egrave": "è", "agrave": "à",
    "ccedilla": "ç", "adieresis": "ä", "odieresis": "ö",
    "udieresis": "ü", "germandbls": "ß", "ntilde": "ñ",
    "oslash": "ø", "aring": "å", "ae": "æ",
    "Euro": "€", "sterling": "£", "yen": "¥",
    "cent": "¢", "section": "§", "paragraph": "¶",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
}


def _glyph_to_char(name: str) -> str | None:
    if len(name) == 1:
        return name
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    return None


_CMAP_HEX = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CODESPACE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)


def _utf16be(hexs: bytes) -> str:
    try:
        return bytes.fromhex(hexs.decode("ascii")).decode("utf-16-be", "replace")
    except ValueError:
        return ""


def parse_tounicode_cmap(data: bytes) -> tuple[dict[int, str], int]:
    """Parse a /ToUnicode CMap stream -> (code -> unicode map, code
    byte length). Handles bfchar, bfrange (increment and array forms)
    and codespacerange (reference capability:
    pypdfium2_backend.py text extraction via FPDFText, which applies
    the same embedded mapping inside pdfium)."""
    mapping: dict[int, str] = {}
    code_bytes = 2
    for m in _CODESPACE_RE.finditer(data):
        hexes = _CMAP_HEX.findall(m.group(1))
        if hexes:
            code_bytes = max(len(hexes[0]) // 2, 1)
    for m in _BFCHAR_RE.finditer(data):
        hexes = _CMAP_HEX.findall(m.group(1))
        for i in range(0, len(hexes) - 1, 2):
            mapping[int(hexes[i], 16)] = _utf16be(hexes[i + 1])
    for m in _BFRANGE_RE.finditer(data):
        body = m.group(1)
        pos = 0
        while True:
            mm = _CMAP_HEX.search(body, pos)
            if not mm:
                break
            lo_h = mm.group(1)
            mm2 = _CMAP_HEX.search(body, mm.end())
            if not mm2:
                break
            hi_h = mm2.group(1)
            pos = mm2.end()
            # third operand: <dst> or [ <d1> <d2> ... ]
            nxt = body[pos:].lstrip()
            lo, hi = int(lo_h, 16), int(hi_h, 16)
            if hi - lo > 65535:  # damaged range: cap the expansion
                hi = lo + 65535
            if nxt.startswith(b"["):
                arr_end = body.find(b"]", pos)
                if arr_end == -1:
                    break
                dsts = _CMAP_HEX.findall(body[pos:arr_end])
                for i, code in enumerate(range(lo, hi + 1)):
                    if i < len(dsts):
                        mapping[code] = _utf16be(dsts[i])
                pos = arr_end + 1
            else:
                mm3 = _CMAP_HEX.search(body, pos)
                if not mm3:
                    break
                base = _utf16be(mm3.group(1))
                pos = mm3.end()
                if base:
                    base_cp = ord(base[-1])
                    prefix = base[:-1]
                    for i, code in enumerate(range(lo, hi + 1)):
                        mapping[code] = prefix + chr(base_cp + i)
    return mapping, code_bytes


# Unicode presentation-form ligatures expand to their ASCII sequences,
# matching pdfium's extracted text (and the reference groundtruth).
_LIGATURES = str.maketrans(
    {0xFB00: "ff", 0xFB01: "fi", 0xFB02: "fl", 0xFB03: "ffi",
     0xFB04: "ffl", 0xFB05: "ft", 0xFB06: "st"}
)


@dataclass
class FontInfo:
    """Decoded view of one /Font resource: how to turn show-string
    bytes into unicode + advance widths (1/1000 em units)."""

    code_bytes: int = 1  # 1 = simple font, 2 = Type0/Identity-H
    bold: bool = False  # BaseFont name carries Bold/Black/Heavy
    base_font: str = ""  # raw /BaseFont name (for GLYPH<> fallbacks)
    to_unicode: dict[int, str] | None = None
    diff_map: dict[int, str] | None = None  # simple-font /Differences
    widths: dict[int, float] | None = None
    default_width: float = 500.0
    # named base encoding codec: 'mac_roman' (/MacRomanEncoding) or
    # 'cp1252' (/WinAnsiEncoding); None -> PDFDocEncoding ~ latin-1
    base_encoding: str | None = None

    def decode(self, raw: bytes) -> list[tuple[int, str]]:
        """bytes -> [(code, text)] — one entry per character code."""
        out: list[tuple[int, str]] = []
        if self.code_bytes == 2:
            for i in range(0, len(raw) - 1, 2):
                code = (raw[i] << 8) | raw[i + 1]
                if self.to_unicode is not None and code in self.to_unicode:
                    out.append((code, self.to_unicode[code].translate(_LIGATURES)))
                elif 32 <= code < 0xD800:
                    # no ToUnicode: CID is a glyph id — garbled output
                    # by design, caught by the quality score downstream
                    out.append((code, chr(code)))
                else:
                    # an unmappable control CID is never real text:
                    # docling-parse emits its GLYPH<c=..,font=..>
                    # marker (groundtruth redp5110_sampled.md:91 —
                    # the Redbook bullet is CID 1 in the unsubtitled
                    # Identity-H Janson face)
                    out.append(
                        (code, f"GLYPH<c={code},font=/{self.base_font}>")
                    )
        else:
            for code in raw:
                if self.to_unicode is not None and code in self.to_unicode:
                    out.append((code, self.to_unicode[code].translate(_LIGATURES)))
                elif self.diff_map is not None and code in self.diff_map:
                    out.append((code, self.diff_map[code].translate(_LIGATURES)))
                else:
                    ch = bytes([code]).decode(
                        self.base_encoding or "latin-1", "replace"
                    )
                    if ch < " " and ch not in "\t\n\r":
                        # a C0 control is never real text: the code has
                        # no unicode mapping at all. docling-parse
                        # emits a GLYPH<c=...,font=...> marker here
                        # (groundtruth redp5110_sampled.md:91) — pin
                        # the same text so quality scoring and goldens
                        # agree with the reference.
                        ch = f"GLYPH<c={code},font=/{self.base_font}>"
                    out.append((code, ch.translate(_LIGATURES)))
        return out

    def advance(self, codes: list[int]) -> float:
        """Total advance in em units (x1000)."""
        if self.widths is None:
            return len(codes) * self.default_width
        w = self.widths
        dw = self.default_width
        return sum(w.get(c, dw) for c in codes)


def _parse_cid_widths(w_arr: list, resolve) -> dict[int, float]:
    """CIDFont /W array: ``c [w1 w2 ...]`` or ``c1 c2 w`` runs."""
    out: dict[int, float] = {}
    i = 0
    n = len(w_arr)
    while i < n:
        first = resolve(w_arr[i])
        if not isinstance(first, (int, float)):
            i += 1
            continue
        if i + 1 < n:
            second = resolve(w_arr[i + 1])
            if isinstance(second, list):
                for j, w in enumerate(second):
                    w = resolve(w)
                    if isinstance(w, (int, float)):
                        out[int(first) + j] = float(w)
                i += 2
                continue
            if i + 2 < n and isinstance(second, (int, float)):
                w = resolve(w_arr[i + 2])
                if isinstance(w, (int, float)):
                    hi = min(int(second), int(first) + 65535)
                    for c in range(int(first), hi + 1):
                        out[c] = float(w)
                i += 3
                continue
        i += 1
    return out


# ----------------------------------------------------- content interpreter


@dataclass
class TextCell:
    """Positioned text run, BOTTOMLEFT origin (pdfium rect convention,
    pypdfium2_backend.py:140-151)."""

    text: str
    l: float
    b: float
    r: float
    t: float
    size: float
    # P12 provenance flag (reference TextCell.from_ocr,
    # pypdfium2_backend.py:136-153 / base_ocr_model.py:115-171)
    from_ocr: bool = False
    # bold weight from the showing font's BaseFont name — the visual
    # cue the layout model uses for same-size section headings
    bold: bool = False
    # content-stream draw order (cell position in the page's cell
    # list). The reference's reading-order model receives cells with
    # their ids in this order (readingorder_model.py:60-70) and
    # preserves it between geometrically-tied clusters; layout rules
    # use it the same way to order side-by-side tiles.
    index: int = -1


@dataclass
class PdfPage:
    page_no: int
    width: float
    height: float
    cells: list[TextCell] = field(default_factory=list)
    # image-XObject placements, (l, b, r, t) BOTTOMLEFT like cells —
    # the input to the P10 OCR decision (base_ocr_model.py:40-112)
    bitmap_rects: list = field(default_factory=list)
    # optional real pixel content aligned with bitmap_rects: None or
    # (w, h, gray-bytes) per rect — filled by the IMAGE->PDF adaptation
    # when a stdlib decoder exists, so rasterized pages show the actual
    # image instead of a flat placeholder block
    bitmap_pixels: list = field(default_factory=list)

    def cells_top_left(self) -> list[TextCell]:
        """Convert to TOPLEFT origin (docling's working coordinate)."""
        return [
            TextCell(
                c.text,
                c.l,
                self.height - c.b,  # TL bottom (larger y)
                c.r,
                self.height - c.t,  # TL top (smaller y)
                c.size,
                from_ocr=c.from_ocr,
                bold=c.bold,
                index=i,
            )
            for i, c in enumerate(self.cells)
        ]


_AVG_GLYPH_EM = 0.5  # flat Helvetica-ish advance estimate per glyph

_OP_RE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")


def _mat_mul(m1, m2):
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def interpret_text(
    content: bytes,
    page_no: int,
    width: float,
    height: float,
    fonts: dict | None = None,
    image_xobjects: frozenset | None = None,
) -> PdfPage:
    """Run the text-showing subset of the content stream, one TextCell
    per showing operator (pdfium's count_rects granularity before the
    reference's merge pass). ``fonts`` maps resource names to FontInfo;
    show strings decode through the current font (Identity-H CIDs via
    ToUnicode, /Differences for simple fonts) with real advance widths."""
    page = PdfPage(page_no, width, height)
    lex = _Lexer(content)
    stack: list = []
    tm = tlm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    ctm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    gs_stack: list = []
    font_size = 0.0
    leading = 0.0
    in_text = False
    cur_font: FontInfo | None = None
    image_xobjects = image_xobjects or frozenset()
    n = len(content)

    def _expand_visual(t: str) -> str:
        # A single glyph whose ToUnicode expands to 2+ RTL chars (the
        # mandatory lam-alef ligature) delivers them in LOGICAL order;
        # the surrounding string is in VISUAL order. Store the
        # expansion reversed so the cell is uniformly visual and the
        # later _visual_to_logical reversal restores the pair.
        if len(t) >= 2:
            import unicodedata

            if all(unicodedata.bidirectional(c) in ("R", "AL", "AN")
                   for c in t):
                return t[::-1]
        return t

    def show(raw) -> None:
        nonlocal tm
        if isinstance(raw, bytes):
            if cur_font is not None:
                decoded = cur_font.decode(raw)
                text = "".join(_expand_visual(t) for _, t in decoded)
                adv_em = cur_font.advance([c for c, _ in decoded]) / 1000.0
            else:
                text = raw.decode("latin-1")
                adv_em = len(text) * _AVG_GLYPH_EM
        elif isinstance(raw, str):
            text = raw
            adv_em = len(text) * _AVG_GLYPH_EM
        else:
            return
        if not in_text:
            return
        a, b_, c, d, e, f = tm
        scale = abs(d) or 1.0
        eff_size = font_size * scale
        adv = adv_em * font_size
        x1 = e + adv * (abs(a) or 1.0)
        if text:
            page.cells.append(
                TextCell(
                    text, e, f, x1, f + eff_size, eff_size,
                    bold=cur_font.bold if cur_font is not None else False,
                )
            )
        tm = _mat_mul((1, 0, 0, 1, adv, 0), tm)

    while lex.pos < n:
        lex._skip_ws()
        if lex.pos >= n:
            break
        c = content[lex.pos]
        if c == 0x2F or c == 0x28 or c == 0x3C or c == 0x5B or (
            0x30 <= c <= 0x39 or c in (0x2B, 0x2D, 0x2E)
        ):
            try:
                stack.append(lex.parse_object())
            except PdfError:
                lex.pos += 1
            continue
        m = _OP_RE.match(content, lex.pos)
        if not m:
            lex.pos += 1
            continue
        op = m.group()
        lex.pos = m.end()
        try:
            if op == b"q":
                gs_stack.append(ctm)
            elif op == b"Q":
                if gs_stack:
                    ctm = gs_stack.pop()
            elif op == b"cm" and len(stack) >= 6:
                ctm = _mat_mul(tuple(float(v) for v in stack[-6:]), ctm)
            elif op == b"Do" and stack and isinstance(stack[-1], Name):
                if str(stack[-1]) in image_xobjects:
                    # unit square under the CTM -> bitmap placement bbox
                    a, b_, c, d, e, f = ctm
                    xs = (e, a + e, c + e, a + c + e)
                    ys = (f, b_ + f, d + f, b_ + d + f)
                    page.bitmap_rects.append(
                        (min(xs), min(ys), max(xs), max(ys))
                    )
            elif op == b"BT":
                in_text = True
                tm = tlm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
            elif op == b"ET":
                in_text = False
            elif op == b"Tf" and len(stack) >= 2:
                font_size = float(stack[-1])
                if fonts and isinstance(stack[-2], Name):
                    cur_font = fonts.get(str(stack[-2]))
            elif op == b"TL" and stack:
                leading = float(stack[-1])
            elif op == b"Td" and len(stack) >= 2:
                tlm = _mat_mul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
                tm = tlm
            elif op == b"TD" and len(stack) >= 2:
                leading = -float(stack[-1])
                tlm = _mat_mul((1, 0, 0, 1, float(stack[-2]), float(stack[-1])), tlm)
                tm = tlm
            elif op == b"Tm" and len(stack) >= 6:
                tlm = tm = tuple(float(v) for v in stack[-6:])
            elif op == b"T*":
                tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                tm = tlm
            elif op == b"Tj" and stack:
                show(stack[-1])
            elif op == b"'" and stack:
                tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                tm = tlm
                show(stack[-1])
            elif op == b'"' and len(stack) >= 3:
                tlm = _mat_mul((1, 0, 0, 1, 0.0, -leading), tlm)
                tm = tlm
                show(stack[-1])
            elif op == b"TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, (bytes, str)):
                        show(el)
                    elif isinstance(el, (int, float)):
                        # kerning displacement; a large negative gap is an
                        # inter-word space the font left out
                        shift = -float(el) / 1000.0 * font_size
                        tm = _mat_mul((1, 0, 0, 1, shift, 0), tm)
        except (TypeError, ValueError):
            pass
        stack.clear()
    return page


def iter_pdf_pages(data: bytes) -> Iterator[PdfPage]:
    """bytes -> positioned text cells, one page at a time, so a page
    that fails to decode leaves the pages before it usable. Raises
    PdfError on undecodable input (caller converts to a failure row)."""
    doc = PdfDocument(data)
    n = 0
    for i, pd in enumerate(doc.page_dicts()):
        mb = [float(v) for v in pd["MediaBox"][:4]]
        w, h = mb[2] - mb[0], mb[3] - mb[1]
        content = doc.page_content(pd)
        fonts = doc.page_fonts(pd)
        yield interpret_text(
            content, i + 1, w, h,
            fonts=fonts,
            image_xobjects=doc.page_image_xobjects(pd),
        )
        n += 1
    if not n:
        raise PdfError("no pages")


def parse_pdf(data: bytes) -> list[PdfPage]:
    """Every page of ``iter_pdf_pages``; any page error fails the whole
    document."""
    return list(iter_pdf_pages(data))


# ----------------------------------------------------- P10: bitmap coverage


def bitmap_coverage(page: PdfPage) -> float:
    """Fraction of the page area covered by the union of bitmap rects
    (exact rectangle-union via coordinate compression — the reference
    rasterizes to a binary mask, base_ocr_model.py:48-86; same quantity
    without the 10 px dilation)."""
    if not page.bitmap_rects or page.width <= 0 or page.height <= 0:
        return 0.0
    rects = [
        (max(l, 0.0), max(b, 0.0), min(r, page.width), min(t, page.height))
        for l, b, r, t in page.bitmap_rects
    ]
    rects = [rc for rc in rects if rc[2] > rc[0] and rc[3] > rc[1]]
    if not rects:
        return 0.0
    xs = sorted({v for rc in rects for v in (rc[0], rc[2])})
    ys = sorted({v for rc in rects for v in (rc[1], rc[3])})
    area = 0.0
    for i in range(len(xs) - 1):
        for j in range(len(ys) - 1):
            cx = (xs[i] + xs[i + 1]) / 2
            cy = (ys[j] + ys[j + 1]) / 2
            if any(l <= cx <= r and b <= cy <= t for l, b, r, t in rects):
                area += (xs[i + 1] - xs[i]) * (ys[j + 1] - ys[j])
    return min(area / (page.width * page.height), 1.0)


# ------------------------------------------------------ P5 rasterization


def rasterize_page(page: PdfPage, scale: float = 1.0):
    """P5: deterministic grayscale raster of a page's geometry
    (pypdfium2_backend.py:327-361 semantics without a cropbox: output
    size = round(width x scale) by round(height x scale); the reference
    renders at 1.5x then resizes for sharpness — rasterizing straight
    at the target grid is the same image contract). Glyphs are not
    rendered, so ink is the geometry itself: text-cell boxes paint
    0x30, bitmap-XObject rects paint 0x80 (or their decoded pixels),
    background 0xFF.

    Returns (width, height, numpy uint8 array of shape (h, w)).
    """
    import numpy as np

    w = max(int(round(page.width * scale)), 1)
    h = max(int(round(page.height * scale)), 1)
    img = np.full((h, w), 0xFF, dtype=np.uint8)

    def paint(l, b, r, t, value):
        # BOTTOMLEFT rect -> TOPLEFT pixel rows
        x0 = int(np.floor(l * scale))
        x1 = int(np.ceil(r * scale))
        y0 = int(np.floor((page.height - t) * scale))
        y1 = int(np.ceil((page.height - b) * scale))
        x0, x1 = max(x0, 0), min(x1, w)
        y0, y1 = max(y0, 0), min(y1, h)
        if x0 < x1 and y0 < y1:
            img[y0:y1, x0:x1] = value

    pixels = page.bitmap_pixels or [None] * len(page.bitmap_rects)
    for (l, b, r, t), pix in zip(page.bitmap_rects, pixels):
        x0 = max(int(np.floor(l * scale)), 0)
        x1 = min(int(np.ceil(r * scale)), w)
        y0 = max(int(np.floor((page.height - t) * scale)), 0)
        y1 = min(int(np.ceil((page.height - b) * scale)), h)
        if x0 >= x1 or y0 >= y1:
            continue
        if pix is None:
            img[y0:y1, x0:x1] = 0x80
            continue
        # blit the real decoded image, nearest-neighbour resampled
        pw, ph, plane = pix
        src = np.frombuffer(plane, dtype=np.uint8).reshape(ph, pw)
        ys = (np.arange(y0, y1) - y0) * ph // (y1 - y0)
        xs = (np.arange(x0, x1) - x0) * pw // (x1 - x0)
        img[y0:y1, x0:x1] = src[np.ix_(ys, xs)]
    for c in page.cells:
        paint(c.l, c.b, c.r, c.t, 0x30)
    return w, h, img


def encode_png_gray(img) -> bytes:
    """Minimal 8-bit grayscale PNG encoder (stdlib zlib/struct; no
    codec dependency). Filter type 0 per scanline."""
    import struct

    h, w = img.shape

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # gray, 8-bit
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )
