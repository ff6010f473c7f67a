"""PDF layout heuristics: cell merge, parse-quality scoring, block
assembly, reading order, document build.

Behavioral ports (written fresh against the reference's semantics):

* ``merge_horizontal_cells`` — pypdfium2's fragmented sub-word cells are
  grouped into rows by vertical overlap (0.5x row height) and merged
  when the horizontal gap <= average cell height
  (/root/reference/docling/backend/pypdfium2_backend.py:155-250);
* ``rate_text_quality`` — garbage detectors (replacement char,
  GLYPH<...>, /G-runs, slash-token runs) hard-zero; fragmented-word
  pattern >=3 occurrences adds 0.1 penalties; page parse_score is the
  10th percentile of cell scores
  (/root/reference/docling/models/page_preprocessing_model.py:29-35,120-145,
  80-87);
* ``sanitize_lines`` — hyphen-merge across lines + the 6-entry unicode
  normalization (/root/reference/docling/models/page_assemble_model.py:38-63);
* block classification / reading order — the rule-based skeleton of the
  reference's layout postprocess + reading-order stage
  (layout_postprocessor.py:654-684 cell sort; readingorder_model.py):
  without the RT-DETR layout model we classify by font-size rank
  (doc-median body size; larger = section headers, largest-on-page-1 =
  title), and order blocks top-to-bottom, left-to-right with column
  awareness.
"""

from __future__ import annotations

import re
import unicodedata
from dataclasses import dataclass
from statistics import median

from .doc_model import BODY, FURNITURE, Doc, TableCellData, TableDataIR
from .pdf_kernel import PdfPage, TextCell

# ------------------------------------------------------------- cell merge

# Row grouping and line merge (pypdfium2_backend.py:160-196): a cell
# joins a row when its top and its bottom each lie within
# _ROW_HEIGHT_FACTOR x the row's height of the row's, and joins the line
# to its left when the gap is at most _GAP_HEIGHT_FACTOR x the two
# cells' mean height.
_ROW_HEIGHT_FACTOR = 0.5
_GAP_HEIGHT_FACTOR = 1.0


def _group_rows(cells: list[TextCell]) -> list[list[TextCell]]:
    """Group TOPLEFT-origin cells into visual rows; thresholds follow
    pypdfium2_backend.py:160-196 (running row bbox, 0.5x height)."""
    rows: list[list[TextCell]] = []
    cur = [cells[0]]
    row_top, row_bot = cells[0].t, cells[0].b  # TL origin: t < b
    row_h = abs(row_bot - row_top)
    for cell in cells[1:]:
        thr = row_h * _ROW_HEIGHT_FACTOR
        if abs(cell.t - row_top) <= thr and abs(cell.b - row_bot) <= thr:
            cur.append(cell)
            row_top = min(row_top, cell.t)
            row_bot = max(row_bot, cell.b)
            row_h = row_bot - row_top
        else:
            rows.append(cur)
            cur = [cell]
            row_top, row_bot = cell.t, cell.b
            row_h = abs(row_bot - row_top)
    rows.append(cur)
    return rows


_bidi_class = unicodedata.bidirectional
# right-to-left letters (R, AL) and Arabic-Indic digits (AN): an AN
# digit run sits inside RTL text, so it never flips the script
_RTL = ("R", "AL", "AN")


def _is_rtl(ch: str) -> bool:
    return _bidi_class(ch) in _RTL


def _mostly_rtl(text: str) -> bool:
    """More than 30% of ``text`` is RTL: the page, row or block set is
    laid out right to left."""
    if text.isascii():  # hot path: crawl text is overwhelmingly LTR
        return False
    return sum(1 for ch in text if _is_rtl(ch)) > 0.3 * len(text)


_LTR_CORE = ("L", "EN")
_LTR_CONT = ("L", "EN", "ES", "CS", "WS", "ON")


def _visual_to_logical(s: str) -> str:
    """Visual LTR glyph order -> logical order for RTL-dominant text.

    PDFs place glyphs visually: an Arabic word's glyph runs read
    left-to-right across the page, so concatenating cells by ascending
    x yields the REVERSE of the logical character sequence — and this
    holds INSIDE multi-glyph cells too (a Tj run draws its string with
    increasing x advances). The transform is therefore character-level:
    reverse the whole visual string, then re-flip maximal LTR runs
    (latin words, numbers) back to forward order, keeping boundary
    whitespace in place. Verified against the reference groundtruth of
    its three right_to_left fixtures (token-sequence similarity, see
    tests/test_pdf_real.py)."""
    if s.isascii():  # hot path: crawl text is overwhelmingly LTR
        return s
    n_rtl = sum(1 for c in s if _is_rtl(c))
    n_ltr = sum(1 for c in s if _bidi_class(c) == "L")
    if n_rtl == 0 or n_rtl < n_ltr:
        return s
    rev = s[::-1]
    out: list[str] = []
    i = 0
    n = len(rev)
    while i < n:
        if _bidi_class(rev[i]) in _LTR_CORE:
            j = i
            while j < n and _bidi_class(rev[j]) in _LTR_CONT:
                j += 1
            while j - 1 > i and _bidi_class(rev[j - 1]) not in _LTR_CORE:
                j -= 1  # neutrals/space at the run edge stay boundaries
            out.append(rev[i:j][::-1])
            i = j
        else:
            out.append(rev[i])
            i += 1
    return "".join(out)


_WORD_GAP_EM = 0.17  # inter-cell gap above this fraction of the font
# size reads as a word space; below it the cells are kerned fragments
# of one word. Real PDFs show per-glyph/per-cluster Tj runs — pdfium
# resolves this internally (get_text_bounded over the merged bbox,
# pypdfium2_backend.py:232-240); this is the same decision from cell
# geometry.


def _merge_group(group: list[TextCell]) -> TextCell:
    if len(group) == 1:
        return group[0]
    ordered = sorted(group, key=lambda c: c.l)
    texts = [c.text for c in ordered]

    seps = []
    for prev, cur in zip(ordered, ordered[1:]):
        gap = cur.l - prev.r
        size = max(min(prev.size, cur.size), 1.0)
        if gap > size * _WORD_GAP_EM:
            seps.append(" ")
        elif (
            prev.text
            and cur.text
            and prev.text[-1].isalnum()
            and cur.text[0].isalnum()
            and _is_rtl(prev.text[-1]) != _is_rtl(cur.text[0])
        ):
            # a script-direction flip is a word boundary even when the
            # glyphs sit kerning-close: pdfium emits a space between an
            # embedded latin word and the surrounding arabic (reference
            # groundtruth right_to_left_01: "و python", never "وpython")
            seps.append(" ")
        else:
            seps.append("")
    parts = [texts[0]]
    for sep, t in zip(seps, texts[1:]):
        parts.append(sep)
        parts.append(t)
    n_bold = sum(len(c.text) for c in group if c.bold)
    n_all = sum(len(c.text) for c in group) or 1
    return TextCell(
        text=_visual_to_logical("".join(parts)).strip(),
        l=min(c.l for c in group),
        t=min(c.t for c in group),
        r=max(c.r for c in group),
        b=max(c.b for c in group),
        size=max(c.size for c in group),
        bold=n_bold * 2 > n_all,
        index=min((c.index for c in group if c.index >= 0), default=-1),
    )


def _dedup_double_draws(cells: list[TextCell]) -> list[TextCell]:
    """Drop faux-bold double draws: the same text painted twice at a
    sub-point offset (observed in right_to_left_02: 'و' pairs ~0.1-0.6
    pt apart). pdfium's text page dedupes coincident glyphs, so the
    reference never sees the duplicate; without this the merged line
    doubles the letter. Two cells are one draw when their texts match
    and their boxes overlap by >60% of the smaller width at the same
    baseline. Cell ORDER is preserved (row grouping follows draw
    order, pypdfium2_backend.py:160-196); the later draw of a pair is
    the one dropped."""
    order = sorted(range(len(cells)), key=lambda i: (cells[i].t, cells[i].l))
    dropped: set[int] = set()
    kept: list[int] = []  # indices, in (t, l) order, surviving so far
    for idx in order:
        c = cells[idx]
        dup_of = None
        for j in reversed(kept):
            p = cells[j]
            if c.t - p.t > 1.0:
                break
            if (
                p.text.strip()
                and p.text.strip() == c.text.strip()
                and abs(p.t - c.t) < 1.0
                and min(p.r, c.r) - max(p.l, c.l)
                > 0.6 * max(min(p.r - p.l, c.r - c.l), 0.1)
            ):
                dup_of = j
                break
        if dup_of is None:
            kept.append(idx)
        else:
            # drop the LATER draw of the pair, keep stream order stable
            dropped.add(max(idx, dup_of))
            if dup_of > idx:
                kept.remove(dup_of)
                kept.append(idx)
    if not dropped:
        return cells
    return [c for i, c in enumerate(cells) if i not in dropped]


def merge_horizontal_cells(cells: list[TextCell]) -> list[TextCell]:
    """TOPLEFT-origin cells -> row-merged line cells."""
    if not cells:
        return []
    cells = _dedup_double_draws(cells)
    merged: list[TextCell] = []
    for row in _group_rows(cells):
        row = sorted(row, key=lambda c: c.l)
        group = [row[0]]
        for cell in row[1:]:
            prev = group[-1]
            avg_h = ((prev.b - prev.t) + (cell.b - cell.t)) / 2
            if cell.l - prev.r <= avg_h * _GAP_HEIGHT_FACTOR:
                group.append(cell)
            else:
                merged.append(_merge_group(group))
                group = [cell]
        merged.append(_merge_group(group))
    return merged


# --------------------------------------------------------- quality score

_GLYPH_RE = re.compile(r"GLYPH<[0-9A-Fa-f]+>")
_SLASH_G_RE = re.compile(r"(?:/G\d+){2,}")
_FRAG_RE = re.compile(r"\b[A-Za-z](?:/[a-z]{1,3}\.[a-z]{1,3}){2,}\b")
_SLASH_TOKEN_RE = re.compile(r"(?:/\w+\s*){2,}")


def rate_text_quality(text: str) -> float:
    if (
        "�" in text
        or _GLYPH_RE.search(text)
        or _SLASH_G_RE.search(text)
        or _SLASH_TOKEN_RE.match(text)
    ):
        return 0.0
    penalty = 0.0
    frag = _FRAG_RE.findall(text)
    if len(frag) >= 3:
        penalty += 0.1 * len(frag)
    return max(1.0 - penalty, 0.0)


def quantile10(values: list[float]) -> float:
    """numpy's linear-interpolation 10th percentile; NaN when empty."""
    vals = sorted(values)
    if not vals:
        return float("nan")
    k = (len(vals) - 1) * 0.10
    lo = int(k)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (k - lo)


def page_parse_score(cell_texts: list[str]) -> float:
    """10th-percentile of per-cell scores (page_preprocessing_model.py:80-87)."""
    return quantile10([rate_text_quality(t) for t in cell_texts])


# ------------------------------------------------------- text sanitizing

_SANITIZE = {
    "⁄": "/",
    "’": "'",
    "‘": "'",
    "“": '"',
    "”": '"',
    "•": "·",
}
_WORD_RE = re.compile(r"\b[\w]+\b")


def sanitize_lines(lines: list[str]) -> str:
    """Hyphen-merge + normalization (page_assemble_model.py:38-63)."""
    lines = list(lines)
    if len(lines) <= 1:
        text = " ".join(lines)
    else:
        for ix in range(len(lines) - 1):
            prev_line, line = lines[ix], lines[ix + 1]
            if prev_line.endswith("-"):
                prev_words = _WORD_RE.findall(prev_line)
                line_words = _WORD_RE.findall(line)
                if (
                    prev_words
                    and line_words
                    and prev_words[-1].isalnum()
                    and line_words[0].isalnum()
                ):
                    lines[ix] = prev_line[:-1]
            else:
                lines[ix] += " "
        text = "".join(lines)
    for src, dst in _SANITIZE.items():
        text = text.replace(src, dst)
    return text.strip()


# ------------------------------------------------- blocks + reading order


@dataclass
class Block:
    kind: str  # 'title' | 'section_header' | 'text' | 'table'
    text: str
    level: int
    page_no: int
    l: float
    t: float
    r: float
    b: float
    size: float
    parse_score: float = 1.0
    table: "TableDataIR | None" = None
    bold: bool = False


def _column(l: float, r: float, page_w: float, rtl: bool) -> int:
    """Column index of a box spanning x in [l, r]: 0 for full-width/
    primary, 1 for a box living entirely in the secondary half of a
    two-column layout. On an RTL page the mirror rule applies — text is
    right-aligned, so a short line hugging the RIGHT margin is a
    paragraph's last line (it must stay with its column-0 paragraph),
    while a box living entirely in the LEFT half is the secondary
    column."""
    mid = page_w / 2
    if rtl:
        return 1 if r < mid * 1.04 and l < mid else 0
    return 1 if l > mid * 0.96 and r > mid else 0


# ---------------------------- geometry-only table reconstruction (P15')
#
# The reference recovers table structure with the TableFormer model
# (docling/models/table_structure_model.py:170-304), which needs torch.
# This is the implementable slice without it: text-based PDF tables
# show up as visual rows whose cells align into vertical columns with
# wide gaps; cluster the x-intervals into columns and the visual rows
# into grid rows, and emit TableData. Conservative by design — a run
# needs >= MIN_CORE_ROWS rows of >= MIN_COLS aligned segments, so
# two-column body text (2 wide segments per row) never qualifies.

_TBL_MIN_COLS = 3  # core rows need this many segments
_TBL_MIN_CORE_ROWS = 3  # and this many consecutive core rows
_TBL_MAX_ROW_GAP_FACTOR = 1.6  # x median line height between core rows


def _interval_columns(segs: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Union overlapping x-intervals into column spans (sorted)."""
    cols: list[list[float]] = []
    for l, r in sorted(segs):
        if cols and l <= cols[-1][1]:
            cols[-1][1] = max(cols[-1][1], r)
        else:
            cols.append([l, r])
    return [(c[0], c[1]) for c in cols]


def _refine_columns(
    cols: list[tuple[float, float]], seg_rows: list[list[TextCell]]
) -> list[tuple[float, float]]:
    """Split union-merged columns that the data rows subdivide.

    A column-SPANNING header cell ('TEDs' over simple/complex/all,
    2305.03393v1-pg9) bridges the gap between real data columns, so
    the plain interval union fuses them into one wide column and the
    reconstructed grid loses the split the reference's TableFormer
    recovers. A unioned interval splits back when >= 2 rows each place
    >= 2 horizontally disjoint segments fully inside it AND those
    segments' own union still forms >= 2 intervals (random word gaps
    in prose cells disagree across rows, so their union stays one
    interval and nothing splits)."""
    out: list[tuple[float, float]] = []
    for L, R in cols:
        sub_rows = 0
        inside_all: list[tuple[float, float]] = []
        for r in seg_rows:
            inside = [
                (c.l, c.r) for c in r if c.l >= L - 0.5 and c.r <= R + 0.5
            ]
            if len(inside) >= 2:
                sub_rows += 1
                inside_all.extend(inside)
        if sub_rows >= 2:
            sub = _interval_columns(inside_all)
            if len(sub) >= 2:
                out.extend(sub)
                continue
        out.append((L, R))
    return out


def _col_range(cols: list[tuple[float, float]], l: float, r: float) -> tuple[int, int]:
    """(start_col, end_col) of the columns an x-interval overlaps."""
    lo = hi = None
    for i, (cl, cr) in enumerate(cols):
        if r > cl and l < cr:
            if lo is None:
                lo = i
            hi = i
    if lo is None:  # no overlap: snap to nearest column by center
        cx = (l + r) / 2
        lo = hi = min(range(len(cols)), key=lambda i: abs((cols[i][0] + cols[i][1]) / 2 - cx))
    return lo, hi + 1


def detect_tables(
    lines: list[TextCell], page_w: float, med_h: float
) -> tuple[list[Block], list[TextCell]]:
    """(table blocks, remaining non-table lines) from merged line cells.

    1. Visual rows via _group_rows; a row is a CORE row when it has
       >= _TBL_MIN_COLS separate segments (column gaps survive the
       line merge because they exceed the cell-height threshold).
    2. Maximal runs of core rows at most _TBL_MAX_ROW_GAP_FACTOR x
       median line height apart, with >= _TBL_MIN_CORE_ROWS members;
       every visual row vertically inside the run is absorbed (row
       labels and multi-line headers have < MIN_COLS segments).
    3. Columns = union of core-segment x-intervals; adjacent visual
       rows with disjoint column sets merge into one grid row (a
       header stacked over sub-headers, a row label shared by two
       lines); cells get col_span from their column overlap.
    """
    if not lines:
        return [], lines
    rows = _group_rows(sorted(lines, key=lambda c: (c.t, c.l)))
    rows = [sorted(r, key=lambda c: c.l) for r in rows]
    core = [len(r) >= _TBL_MIN_COLS for r in rows]
    max_gap = _TBL_MAX_ROW_GAP_FACTOR * max(med_h, 1.0)

    # maximal runs over core-row indices; two core rows are continuous
    # when the vertical gap CHAIN between them (walking every visual
    # row in between — row labels, stacked sub-headers) never exceeds
    # max_gap, so a label line does not sever the run
    def continuous(a: int, b: int) -> bool:
        bot = max(c.b for c in rows[a])
        for k in range(a + 1, b + 1):
            top = min(c.t for c in rows[k])
            if top - bot > max_gap:
                return False
            bot = max(bot, max(c.b for c in rows[k]))
        return True

    runs: list[tuple[int, int]] = []  # (first_core_idx, last_core_idx) in rows[]
    core_idx = [i for i, c in enumerate(core) if c]
    i = 0
    while i < len(core_idx):
        j = i
        while j + 1 < len(core_idx) and continuous(core_idx[j], core_idx[j + 1]):
            j += 1
        if j - i + 1 >= _TBL_MIN_CORE_ROWS:
            runs.append((core_idx[i], core_idx[j]))
        i = j + 1

    if not runs:
        return [], lines

    table_blocks: list[Block] = []
    absorbed: set[int] = set()
    for first, last in runs:
        y0 = min(c.t for c in rows[first])
        y1 = max(c.b for c in rows[last])
        member_rows = [
            k
            for k in range(len(rows))
            if y0 - 0.25 * med_h
            <= (min(c.t for c in rows[k]) + max(c.b for c in rows[k])) / 2
            <= y1 + 0.25 * med_h
        ]
        cols = _interval_columns(
            [(c.l, c.r) for k in member_rows if core[k] for c in rows[k]]
        )
        cols = _refine_columns(cols, [rows[k] for k in member_rows if core[k]])
        if len(cols) < _TBL_MIN_COLS:
            continue
        # merge adjacent visual rows with disjoint column sets
        grid_rows: list[list[TextCell]] = []
        used_cols: set[int] = set()
        row_bot = None
        for k in member_rows:
            segs = rows[k]
            colset = set()
            for c in segs:
                lo, hi = _col_range(cols, c.l, c.r)
                colset.update(range(lo, hi))
            top = min(c.t for c in segs)
            # a cell of the previous grid row reaching INTO this row's
            # band, in columns this row leaves empty, is a row-spanning
            # label ('6' centered across its OTSL/HTML sub-rows,
            # 2305.03393v1-pg9): the sub-rows belong to one logical row
            # (TableFormer emits them as one, groundtruth pg9.md) —
            # descender-deep overlaps in used columns never bind
            span_bind = False
            if grid_rows:
                for s in grid_rows[-1]:
                    if s.b - top <= 0.1 * max(s.b - s.t, 1e-6):
                        continue
                    lo, hi = _col_range(cols, s.l, s.r)
                    if not (set(range(lo, hi)) & colset):
                        span_bind = True
                        break
            if grid_rows and (
                span_bind
                or (
                    row_bot is not None
                    and top < row_bot + 0.3 * med_h
                    and not (colset & used_cols)
                )
            ):
                grid_rows[-1].extend(segs)
                used_cols |= colset
            else:
                grid_rows.append(list(segs))
                used_cols = colset
            row_bot = max(c.b for c in segs)

        cells: list[TableCellData] = []
        for ri, segs in enumerate(grid_rows):
            # several segments can land in one grid cell (e.g. a column
            # that unioned two sub-columns): space-join their texts in
            # x-order instead of overwriting — no word may be dropped
            merged: dict[tuple[int, int], list[TextCell]] = {}
            # (t, l): cells stacked in one grid cell by a row-spanning
            # bind join top-down ('0.965 0.969'), same-line cells
            # left-to-right — the reference's in-cell reading order
            for c in sorted(segs, key=lambda s: (s.t, s.l)):
                lo, hi = _col_range(cols, c.l, c.r)
                merged.setdefault((lo, hi), []).append(c)
            for (lo, hi), group in sorted(merged.items()):
                cells.append(
                    TableCellData(
                        text=" ".join(c.text for c in group if c.text),
                        start_row=ri,
                        end_row=ri + 1,
                        start_col=lo,
                        end_col=hi,
                        col_span=hi - lo,
                        column_header=ri == 0,
                    )
                )
        data = TableDataIR(len(grid_rows), len(cols), cells)
        all_cells = [c for k in member_rows for c in rows[k]]
        table_blocks.append(
            Block(
                kind="table",
                text=" ".join(c.text for c in all_cells if c.text),
                level=0,
                page_no=0,  # caller fills page_no
                l=min(c.l for c in all_cells),
                t=min(c.t for c in all_cells),
                r=max(c.r for c in all_cells),
                b=max(c.b for c in all_cells),
                size=max(c.size for c in all_cells),
                table=data,
            )
        )
        absorbed.update(member_rows)

    id_absorbed = {id(c) for k in absorbed for c in rows[k]}
    remaining = [ln for ln in lines if id(ln) not in id_absorbed]
    return table_blocks, remaining


def page_blocks(page: PdfPage) -> list[Block]:
    """Lines -> vertically-clustered blocks in reading order."""
    lines = merge_horizontal_cells(page.cells_top_left())
    if not lines:
        return []
    heights = [ln.b - ln.t for ln in lines]
    med_h = median(heights) or 1.0
    table_blocks, lines = detect_tables(lines, page.width, med_h)
    for tb in table_blocks:
        tb.page_no = page.page_no
    if not lines and not table_blocks:
        return []
    # form pages re-block at line granularity (row-major label/value
    # grids); every other page takes the generic column merge below
    form_blocks = _form_reblock(lines, med_h, page.page_no)
    if form_blocks is not None:
        blocks = resolve_overlapping_blocks(form_blocks)
        return _interleave_extras(
            blocks, table_blocks, _picture_blocks(page), stable=True,
            page_w=page.width,
        )
    page_rtl = _mostly_rtl("".join(ln.text for ln in lines))
    tile_blocks, lines = _tile_band_blocks(
        lines, page.width, med_h, page.page_no
    )
    if not lines:
        blocks = resolve_overlapping_blocks(tile_blocks)
        return _interleave_extras(
            blocks, table_blocks, _picture_blocks(page), stable=False,
            page_w=page.width, rtl=page_rtl,
        )
    cols = [_column(ln.l, ln.r, page.width, page_rtl) for ln in lines]
    order = sorted(range(len(lines)), key=lambda i: (cols[i], lines[i].t, lines[i].l))

    blocks: list[Block] = []
    cur: list[TextCell] = []

    def flush() -> None:
        block = _cells_block(cur, page.page_no) if cur else None
        if block is not None:
            blocks.append(block)
        cur.clear()

    prev_idx = None
    for i in order:
        ln = lines[i]
        if cur:
            prev = lines[prev_idx]
            same_col = cols[i] == cols[prev_idx]
            gap = ln.t - prev.b
            size_jump = abs(ln.size - prev.size) > 0.15 * max(ln.size, prev.size)
            # a weight flip is a block boundary too: a bold heading at
            # body size must not merge into its following paragraph
            if not same_col or gap > 0.9 * med_h or size_jump or ln.bold != prev.bold:
                flush()
        cur.append(ln)
        prev_idx = i
    flush()
    # P14: collapse duplicate/contained blocks (no-op for the disjoint
    # vertical clusters above; load-bearing once model clusters exist)
    blocks = resolve_overlapping_blocks(blocks)
    blocks = _interleave_extras(
        blocks, table_blocks + tile_blocks, _picture_blocks(page),
        stable=False, page_w=page.width, rtl=page_rtl,
    )
    return _form_row_reorder(blocks)


def _picture_blocks(page: PdfPage) -> list[Block]:
    """Picture blocks from bitmap rects (reference: layout model
    PICTURE clusters; full-page pictures dropped >90% area like
    layout_postprocessor.py:324-335, specks below 0.5% ignored)."""
    picture_blocks: list[Block] = []
    page_area = max(page.width * page.height, 1.0)
    for l, bb, r, tt in page.bitmap_rects:
        area = max(r - l, 0.0) * max(tt - bb, 0.0)
        if not 0.005 * page_area <= area <= 0.90 * page_area:
            continue
        picture_blocks.append(
            Block(
                kind="picture",
                text="",
                level=0,
                page_no=page.page_no,
                l=l,
                t=page.height - tt,
                r=r,
                b=page.height - bb,
                size=0.0,
            )
        )
    return picture_blocks


def _interleave_extras(
    blocks: list[Block],
    table_blocks: list[Block],
    picture_blocks: list[Block],
    stable: bool,
    page_w: float,
    rtl: bool = False,
) -> list[Block]:
    """Re-interleave tables/pictures into reading order. Generic pages
    re-sort everything by (column, t, l), each block's column given by
    the same _column rule as lines (full-width -> 0). Form pages
    (stable=True) must NOT be re-sorted — their row-major label/value
    order is the point — so extras are inserted at their top coordinate
    instead."""
    extra = table_blocks + picture_blocks
    if not extra:
        return blocks
    if stable:
        for e in sorted(extra, key=lambda b: b.t):
            idx = next(
                (i for i, b in enumerate(blocks) if b.t > e.t), len(blocks)
            )
            blocks.insert(idx, e)
        return blocks
    return sorted(
        blocks + extra, key=lambda b: (_column(b.l, b.r, page_w, rtl), b.t, b.l)
    )


def _cells_block(cells: list[TextCell], page_no: int) -> Block | None:
    """One text Block from a group of line cells; None when the cells
    sanitize to no text."""
    text = sanitize_lines([c.text for c in cells])
    if not text:
        return None
    return Block(
        kind="text",
        text=text,
        level=0,
        page_no=page_no,
        l=min(c.l for c in cells),
        t=min(c.t for c in cells),
        r=max(c.r for c in cells),
        b=max(c.b for c in cells),
        size=max(c.size for c in cells),
        parse_score=page_parse_score([c.text for c in cells]),
        bold=sum(len(c.text) for c in cells if c.bold) * 2
        > (sum(len(c.text) for c in cells) or 1),
    )


_TILE_MAX_W = 0.30  # a tile column is NARROW (box/card, not a text column)


def _tile_band_blocks(
    lines: list[TextCell], page_w: float, med_h: float, page_no: int
) -> tuple[list[Block], list[TextCell]]:
    """Side-by-side TILE GRIDS -> one block each, columns in draw order.

    Pattern (right_to_left_02's four goal boxes): consecutive visual
    rows of >= 3 narrow, horizontally-disjoint segments whose
    x-intervals align into stable columns. The generic y-sweep would
    interleave the tiles line-by-line across the page; the reference's
    reading-order model (readingorder_model.py:106-334) keeps each
    tile atomic and emits the whole band as one text item with tiles
    in their cells' id order — i.e. content-stream DRAW order
    (verified on right_to_left_02: groundtruth box order 591 < 619 <
    657 < 693 is neither an x- nor a y-sort). detect_tables cannot
    claim these bands (< 3 core rows), and two-column body text never
    trips the narrowness gate (its columns are ~0.45 x page width).

    Returns (tile blocks, lines not in any band).
    """
    cells = [c for c in lines if c.text.strip()]
    if len(cells) < 6:
        return [], lines
    rows = _group_rows(sorted(cells, key=lambda c: (c.t, c.l)))
    rows = [sorted(r, key=lambda c: c.l) for r in rows]

    def tile_row(r: list[TextCell]) -> bool:
        return (
            len(r) >= 3
            and all(r[k + 1].l >= r[k].r - 1.0 for k in range(len(r) - 1))
            and all(c.r - c.l <= _TILE_MAX_W * page_w for c in r)
        )

    out: list[Block] = []
    consumed: set[int] = set()
    i = 0
    while i < len(rows):
        if not tile_row(rows[i]):
            i += 1
            continue
        j = i
        while (
            j + 1 < len(rows)
            and tile_row(rows[j + 1])
            and min(c.t for c in rows[j + 1]) - max(c.b for c in rows[j])
            <= 0.9 * max(med_h, 1.0)
        ):
            j += 1
        band = [c for k in range(i, j + 1) for c in rows[k]]
        if j > i:
            cols = _interval_columns([(c.l, c.r) for c in band])
            by_col: dict[int, list[TextCell]] = {}
            ok = len(cols) >= 3
            if ok:
                for c in band:
                    lo, hi = _col_range(cols, c.l, c.r)
                    if hi - lo != 1:  # column-spanning: not a tile grid
                        ok = False
                        break
                    by_col.setdefault(lo, []).append(c)
            if ok and all(len(g) >= 2 for g in by_col.values()):
                ordered: list[TextCell] = []
                for col in sorted(
                    by_col,
                    key=lambda col: min(c.index for c in by_col[col])
                    if all(c.index >= 0 for c in by_col[col])
                    else cols[col][0],
                ):
                    ordered.extend(sorted(by_col[col], key=lambda c: c.t))
                blk = _cells_block(ordered, page_no)
                if blk is not None:
                    out.append(blk)
                    consumed.update(id(c) for c in band)
        i = j + 1
    if not out:
        return [], lines
    return out, [ln for ln in lines if id(ln) not in consumed]


def _form_reblock(
    lines: list[TextCell], med_h: float, page_no: int
) -> list[Block] | None:
    """rb-model form-grid ordering at LINE granularity
    (readingorder_model.py:106-334 routes clusters through a
    table-aware predictor): on a form page, label/value cells of one
    grid row must stay together — the generic column-merge would fuse
    a whole label COLUMN into one block first, making row-major order
    unrecoverable downstream (r4's block-level _form_row_reorder
    plateaued at 0.61 on rtl_03 for exactly this reason).

    Gate (conservative — ordinary 1/2-column text pages must never
    trip it): >= 4 visual rows holding horizontally-disjoint segments
    in >= 2 stable columns, each starting after a >= 0.45x line-height
    gap (form-cell padding), covering >= 40% of the page's rows, with
    at most sep/3 tightly-packed paired rows. Dense two-column text
    pairs lines at ~0.1-0.3x gaps, so it fails the separation test.

    Build: a paired row opens a form row; an unpaired row whose
    segments all land in columns the open form row already has, at
    <= 1.2x line-height, is a cell continuation (wrapped label/value
    text); anything else flushes the form row and stands alone. Flush
    emits one block per column, direction-first (RTL: right column =
    label first, like the reference's groundtruth)."""
    cells = [c for c in lines if c.text.strip()]
    if len(cells) < 8:
        return None
    rows = _group_rows(sorted(cells, key=lambda c: (c.t, c.l)))
    rows = [sorted(r, key=lambda c: c.l) for r in rows]

    def disjoint(r: list[TextCell]) -> bool:
        return all(r[k + 1].l >= r[k].r - 1.0 for k in range(len(r) - 1))

    cand = [r for r in rows if len(r) >= 2 and disjoint(r)]
    if len(cand) < 4:
        return None
    cols = _interval_columns([(c.l, c.r) for r in cand for c in r])
    if len(cols) < 2:
        return None

    def col_of(c: TextCell) -> int:
        lo, hi = _col_range(cols, c.l, c.r)
        return lo if hi - lo == 1 else -1  # column-spanning: standalone

    meta = []  # (row, colset, gap_to_prev_row, paired)
    prev_bot = None
    for r in rows:
        colset = {col_of(c) for c in r}
        top = min(c.t for c in r)
        gap = 1e9 if prev_bot is None else top - prev_bot
        paired = len([x for x in colset if x >= 0]) >= 2 and disjoint(r)
        meta.append((r, colset, gap, paired))
        prev_bot = max(c.b for c in r)

    sep_gap = 0.45 * max(med_h, 1.0)
    sep = sum(1 for _, _, gap, p in meta if p and gap >= sep_gap)
    tight = sum(1 for _, _, gap, p in meta if p and gap < sep_gap)
    if sep < 4 or sep < 0.4 * len(rows) or tight * 3 > sep:
        return None

    rtl = _mostly_rtl("".join(c.text for c in cells))

    out: list[Block] = []
    open_row: dict[int, list[TextCell]] | None = None

    def flush_form() -> None:
        nonlocal open_row
        if not open_row:
            open_row = None
            return
        for col in sorted(open_row, reverse=rtl):
            blk = _cells_block(open_row[col], page_no)
            if blk is not None:
                out.append(blk)
        open_row = None

    join_gap = 1.2 * max(med_h, 1.0)
    for r, colset, gap, paired in meta:
        if paired:
            flush_form()
            open_row = {}
            for c in r:
                open_row.setdefault(col_of(c), []).append(c)
            continue
        if (
            open_row is not None
            and gap <= join_gap
            and all(col_of(c) in open_row for c in r)
        ):
            for c in r:
                open_row[col_of(c)].append(c)
            continue
        flush_form()
        blk = _cells_block(list(r), page_no)
        if blk is not None:
            out.append(blk)
    flush_form()
    return out


def _form_row_reorder(blocks: list[Block]) -> list[Block]:
    """rb-model form semantics (readingorder_model.py:106-334 routes
    clusters through a table-aware predictor): on a FORM-like page —
    short label/value blocks sitting side by side in horizontally
    disjoint spans, row after row — reading order is row-major
    (direction-first within a row), not column-major. Gate: >= 3
    paired rows covering >= half the text blocks; ordinary one- and
    two-column text pages never trip it (their side-by-side blocks are
    tall paragraph columns, grouped rarely and sparsely)."""
    n = len(blocks)
    if n < 4:
        return blocks
    cand = [
        i
        for i in range(n)
        if blocks[i].kind in ("text", "section_header", "title")
        and blocks[i].text.strip()
    ]
    if len(cand) < 4:
        return blocks
    uf = UnionFind(range(n))
    for ii, i in enumerate(cand):
        a = blocks[i]
        for j in cand[ii + 1 :]:
            b = blocks[j]
            overlap = min(a.b, b.b) - max(a.t, b.t)
            if overlap >= 0.45 * min(a.b - a.t, b.b - b.t):
                uf.union(i, j)
    groups = uf.groups()
    paired = 0
    paired_blocks = 0
    for g in groups.values():
        if len(g) < 2:
            continue
        mem = sorted(g, key=lambda i: blocks[i].l)
        if any(
            blocks[mem[k + 1]].l >= blocks[mem[k]].r - 1.0
            for k in range(len(mem) - 1)
        ):
            paired += 1
            paired_blocks += len(g)
    if paired < 3 or paired_blocks < 0.5 * len(cand):
        return blocks
    rtl = _mostly_rtl("".join(b.text for b in blocks))
    ordered: list[Block] = []
    for g in sorted(groups.values(), key=lambda g: min(blocks[i].t for i in g)):
        ordered.extend(
            blocks[i]
            for i in sorted(
                g,
                key=lambda i: (
                    -blocks[i].r if rtl else blocks[i].l,
                    blocks[i].t,
                ),
            )
        )
    return ordered


_CODE_KEYWORDS = frozenset(
    "CREATE SELECT INSERT UPDATE DELETE RETURN CASE WHEN THEN ELSE END "
    "ENABLE FROM WHERE FUNCTION PERMISSION MASK ALTER GRANT REVOKE ON AS "
    "FOR COLUMN TABLE VALUES AND OR NOT NULL BEGIN DECLARE SET CALL".split()
)
_CODE_IDENT_RE = re.compile(r"\b[A-Z][A-Z0-9]*(?:_[A-Z0-9]+)+\b")


def _looks_like_code(text: str) -> bool:
    """Stand-in for the CodeFormula vision model's CODE label
    (code_formula_model.py): a block of mostly-uppercase tokens dense
    in SQL-ish keywords and UNDERSCORE_IDENTIFIERS is a code listing.
    Prose that merely mentions an identifier stays text (mixed case)."""
    alpha = [c for c in text if c.isalpha()]
    if len(alpha) < 20:
        return False
    if sum(1 for c in alpha if c.isupper()) < 0.6 * len(alpha):
        return False
    words = text.split()
    kw = sum(1 for w in words if w.strip("(),;.'\"") in _CODE_KEYWORDS)
    idents = len(_CODE_IDENT_RE.findall(text))
    return kw >= 2 and idents >= 1


def classify_blocks(blocks: list[Block]) -> None:
    """Font-size-rank classification, in place: body size = the size
    bucket carrying the most characters (robust when headings outnumber
    paragraphs); >=1.25x body -> section_header (bigger = shallower
    level); the single largest header block on page 1 -> title."""
    if not blocks:
        return
    chars_by_size: dict[float, int] = {}
    for b in blocks:
        key = round(b.size * 2) / 2
        chars_by_size[key] = chars_by_size.get(key, 0) + len(b.text)
    body = max(chars_by_size.items(), key=lambda kv: kv[1])[0]
    header_sizes = sorted(
        {round(b.size, 2) for b in blocks if b.size >= 1.25 * body}, reverse=True
    )
    for b in blocks:
        if b.kind == "text" and b.size >= 1.25 * body and len(b.text) < 300:
            b.kind = "section_header"
            b.level = header_sizes.index(round(b.size, 2)) + 1
    # bold headings at body size: the weight flip is the layout model's
    # cue for same-size section headers ("5.1 Hyper Parameter
    # Optimization" in the arXiv fixtures). Short, bold, not a caption.
    depth = len(header_sizes)
    for b in blocks:
        if (
            b.kind == "text"
            and b.bold
            and b.size >= 0.95 * body
            and 0 < len(b.text) < 100
            and not _TABLE_CAPTION_RE.match(b.text)
            and not _FIGURE_CAPTION_RE.match(b.text)
            and not _LIST_MARKER_RE.match(b.text)
        ):
            b.kind = "section_header"
            b.level = max(depth, 1) if b.size < 1.25 * body else b.level
    # code listings (stand-in for the CodeFormula model's CODE label):
    # fenced at export, so underscores stay raw like the reference
    for b in blocks:
        if b.kind == "text" and _looks_like_code(b.text):
            b.kind = "code"
    # title promotion only considers genuinely LARGER-font headers —
    # a bold heading at body size is a section header, never the title
    page1 = [
        b
        for b in blocks
        if b.page_no == 1 and b.kind == "section_header" and b.size >= 1.25 * body
    ]
    if page1:
        top = max(page1, key=lambda b: b.size)
        if top.level == 1:
            top.kind = "title"
            for b in blocks:
                if b.kind == "section_header" and b.level > 1 and b.size >= 1.25 * body:
                    b.level -= 1


# ---------------------- page-header/footer furniture (boilerplate strip)
#
# The reference's layout model labels running heads, folios and
# repeated footers page_header/page_footer and parks them in the
# FURNITURE content layer so body exports skip them (observed in every
# groundtruth JSON: '9', 'iii', 'Copyright IBM Corp...' are
# content_layer=furniture). Without the model: (1) standalone page
# numbers near the page edge, (2) text repeated near the same edge on
# >= 2 pages (running titles, copyright lines).

_PAGE_NUM_RE = re.compile(r"^(?:\d{1,4}(?:-\d{1,4})?|[ivxlcdm]{1,7})$", re.IGNORECASE)
# bullet glyphs that open a PDF list item (digit-led lines stay text:
# stripping/duplicating numeric markers loses information either way)
_LIST_MARKER_RE = re.compile(r"^[·•∞▪‣*–—-]\s+")
# footnote counter + wide gap before the note text ("1   http://...")
_FOOTNOTE_RE = re.compile(r"^\d{1,2}\s{2,}\S")
_EDGE_TOP = 0.135  # fraction of page height counted as header zone
_EDGE_BOT = 0.865


def _norm_furniture(text: str) -> str:
    return re.sub(r"\d+", "#", text.strip().lower())


def mark_page_furniture(
    all_blocks: list[Block], page_heights: dict[int, float]
) -> None:
    """Reclassify page-edge boilerplate blocks in place to
    page_header / page_footer (assemble_doc puts those in the
    furniture layer, excluded from body md/txt exports)."""
    from collections import defaultdict

    def zone(b: Block) -> str | None:
        h = page_heights.get(b.page_no) or 792.0
        cy = (b.t + b.b) / 2
        if cy < _EDGE_TOP * h:
            return "top"
        if cy > _EDGE_BOT * h:
            return "bot"
        return None

    # rule 2 prep: normalized edge text -> pages it appears on
    seen: dict[tuple[str, str], set[int]] = defaultdict(set)
    for b in all_blocks:
        z = zone(b)
        if z and b.kind == "text" and 0 < len(b.text) < 120:
            seen[(_norm_furniture(b.text), z)].add(b.page_no)
    repeated = {k for k, pages in seen.items() if len(pages) >= 2}

    for b in all_blocks:
        if b.kind != "text":
            continue
        z = zone(b)
        if z is None:
            continue
        is_page_num = _PAGE_NUM_RE.match(b.text.strip()) is not None
        is_repeated = (_norm_furniture(b.text), z) in repeated
        if is_page_num or is_repeated:
            b.kind = "page_header" if z == "top" else "page_footer"
        elif z == "bot" and _FOOTNOTE_RE.match(b.text):
            # readingorder_model predict_to_footnotes: bottom-zone text
            # opening with a footnote counter. Stays in the BODY layer
            # (the reference keeps footnotes in body, only the label
            # changes) — assemble_doc maps the kind to label=footnote.
            b.kind = "footnote"

    # rule 3: a running head on a SINGLE page (no repetition evidence):
    # the topmost block of a page, inside the header zone, set smaller
    # than the body font, short, and clearly separated from the block
    # below — the layout model labels these page_header by position +
    # font alone (e.g. an arXiv page's running title on a 1-page doc)
    chars_by_size: dict[float, int] = defaultdict(int)
    for b in all_blocks:
        if b.kind == "text":
            chars_by_size[round(b.size * 2) / 2] += len(b.text)
    body = max(chars_by_size, key=chars_by_size.get) if chars_by_size else 0.0
    by_page: dict[int, list[Block]] = defaultdict(list)
    for b in all_blocks:
        by_page[b.page_no].append(b)
    for pno, page_bs in by_page.items():
        first = min(page_bs, key=lambda b: b.t)
        # the whole top band: blocks sharing the first block's line
        band = [x for x in page_bs if x.t < first.b]
        # compare by identity: dataclass __eq__ would drop a genuine body
        # block that is value-identical to a band block (duplicated
        # stamps/watermark lines), mis-computing gap_ok below
        band_ids = {id(x) for x in band}
        rest = [x for x in page_bs if id(x) not in band_ids]
        band_bot = max(x.b for x in band)
        band_h = band_bot - first.t
        gap_ok = not rest or min(x.t for x in rest) - band_bot >= band_h
        if gap_ok and all(
            x.kind in ("text", "page_header")  # folio may be marked already
            and zone(x) == "top"
            and 0 < len(x.text) < 120
            and body
            and x.size <= 0.95 * body
            for x in band
        ):
            for x in band:
                x.kind = "page_header"


# caption prefixes the reference's reading-order model keys on
# (readingorder_model.py:106-334 predict_to_captions/footnotes attach
# caption/footnote clusters to their nearest table/picture; without
# the rb model the prefix + adjacency heuristic covers the common case)
_TABLE_CAPTION_RE = re.compile(r"^(Table|Tab\.)\s*\d+", re.IGNORECASE)
_FIGURE_CAPTION_RE = re.compile(r"^(Figure|Fig\.)\s*\d+", re.IGNORECASE)
_CAPTION_MAX_GAP = 60.0  # pt between caption edge and item edge


def _attach_captions(all_blocks: list[Block]) -> dict[int, int]:
    """caption-block index -> table/picture-block index, for text
    blocks whose text starts with the matching counter prefix (Table N
    for tables, Figure N for pictures) and that sit vertically adjacent
    to the item on the same page (above preferred for tables, below
    preferred for figures — the arXiv / report conventions; the other
    side accepted)."""
    cap_for: dict[int, int] = {}
    for i, b in enumerate(all_blocks):
        if b.kind == "table":
            pat = _TABLE_CAPTION_RE
            order = (i - 1, i + 1)  # table captions usually above
        elif b.kind == "picture":
            pat = _FIGURE_CAPTION_RE
            order = (i + 1, i - 1)  # figure captions usually below
        else:
            continue
        for j in order:
            if not 0 <= j < len(all_blocks) or j in cap_for:
                continue
            c = all_blocks[j]
            if c.kind == "text" and c.page_no == b.page_no and pat.match(c.text):
                gap = b.t - c.b if j < i else c.t - b.b
                if -5.0 <= gap <= _CAPTION_MAX_GAP:
                    cap_for[j] = i
                    break
    return cap_for


_TERMINAL_PUNCT = (".", "!", "?", ":", ";", '"', "”", "…")


def merge_continuations(all_blocks: list[Block]) -> list[Block]:
    """predict_merges semantics (readingorder_model.py:336-353 applies
    the rb model's merge pairs by concatenating the texts and
    appending prov): a paragraph split by a column or page break is
    one item. Heuristic stand-in for the learned pair classifier:
    consecutive text blocks in reading order where the first does not
    end a sentence, the second starts lowercase, both are body-sized
    regular text, and the geometry shows a column/page jump (same-column
    neighbours are already merged at block building)."""
    out: list[Block] = []
    for b in all_blocks:
        # the candidate predecessor in reading order, looking past any
        # furniture parked between a page's last paragraph and the next
        # page's first (running heads/folios never block a merge)
        prev = None
        for cand in reversed(out):
            if cand.kind in ("page_header", "page_footer"):
                continue
            prev = cand
            break
        if (
            prev is not None
            and prev.kind == "text"
            and b.kind == "text"
            and prev.text
            and b.text
            and not prev.text.rstrip().endswith(_TERMINAL_PUNCT)
            and b.text.lstrip()[:1].islower()
            and not prev.bold
            and not b.bold
            and abs(prev.size - b.size) <= 0.1 * max(prev.size, b.size)
            and not _LIST_MARKER_RE.match(b.text)
            and (
                b.page_no > prev.page_no  # page break
                or b.t < prev.t  # column jump: next starts above prev
            )
        ):
            prev.text = f"{prev.text} {b.text}"
            continue
        out.append(b)
    return out


def assemble_doc(
    all_blocks: list[Block], name: str = "doc", classify: bool = True
) -> Doc:
    """Blocks (already in per-page reading order, pages ascending) ->
    Doc IR. Runs doc-wide classification, so it must see ALL pages of
    the document (``build_doc`` hands it every page's blocks). Pass
    ``classify=False`` when the blocks were already classified
    doc-wide (e.g. per-page slices of a classified document)."""
    from .doc_model import CAPTION

    if classify:
        classify_blocks(all_blocks)
    cap_for = _attach_captions(all_blocks)
    doc = Doc(name)
    caption_nodes: dict[int, int] = {}  # caption block idx -> node_id
    item_nodes: dict[int, object] = {}  # table/picture block idx -> DocNode
    list_group = None  # open list while consecutive bullet-led blocks run
    for i, b in enumerate(all_blocks):
        is_item = (
            b.kind == "text" and i not in cap_for and _LIST_MARKER_RE.match(b.text)
        )
        if is_item:
            # readingorder_model.py:301-310 list grouping: adjacent
            # list items share one group; any other block closes it
            if list_group is None:
                list_group = doc.add_list_group(name="list")
            doc.add_list_item(b.text, parent=list_group)
            continue
        list_group = None
        if i in cap_for:
            # emit in place (reading order keeps it next to its item)
            # but labeled caption and referenced from the table node
            node = doc.add_text(label=CAPTION, text=b.text, content_layer=BODY)
            caption_nodes[i] = node.node_id
        elif b.kind == "title":
            doc.add_title(b.text, content_layer=BODY)
        elif b.kind == "section_header":
            doc.add_heading(b.text, level=max(1, b.level), content_layer=BODY)
        elif b.kind == "table" and b.table is not None:
            item_nodes[i] = doc.add_table(b.table, content_layer=BODY)
        elif b.kind == "picture":
            item_nodes[i] = doc.add_picture(content_layer=BODY)
        elif b.kind == "code":
            doc.add_code(b.text, content_layer=BODY)
        elif b.kind in ("page_header", "page_footer"):
            doc.add_text(label=b.kind, text=b.text, content_layer=FURNITURE)
        elif b.kind == "footnote":
            doc.add_text(label="footnote", text=b.text, content_layer=BODY)
        else:
            doc.add_text(text=b.text, content_layer=BODY)
    for ci, ti in cap_for.items():
        if ti in item_nodes and ci in caption_nodes:
            item_nodes[ti].caption_id = caption_nodes[ci]
    return doc


def page_score(page: PdfPage) -> float | None:
    """The page's parse score; None for a page with no text cells."""
    return page_parse_score([c.text for c in page.cells]) if page.cells else None


def doc_score(page_scores: list[float | None]) -> float | None:
    """The document's parse score: 10th percentile over the scored pages
    (standard_pdf_pipeline.py:262-268 nanquantile); None when no page
    has a score."""
    scores = [s for s in page_scores if s is not None]
    return quantile10(scores) if scores else None


def doc_blocks(pages: list[PdfPage]) -> tuple[list[Block], dict[int, float]]:
    """The page pass: every page's blocks, pages ascending, and each
    page's height (the input of mark_page_furniture)."""
    blocks: list[Block] = []
    for page in sorted(pages, key=lambda p: p.page_no):
        blocks.extend(page_blocks(page))
    return blocks, {p.page_no: p.height for p in pages}


def build_doc(pages: list[PdfPage], name: str = "doc") -> tuple[Doc, list[float | None]]:
    """Pages -> Doc IR + per-page parse scores (P17/P18 doc assembly,
    standard_pdf_pipeline.py:183-201 + readingorder_model.py): the
    doc-wide layout policy of the router's pdf route (furniture marking,
    then cross-page continuation merge, then assembly)."""
    blocks, page_heights = doc_blocks(pages)
    mark_page_furniture(blocks, page_heights)
    doc = assemble_doc(merge_continuations(blocks), name)
    return doc, [page_score(p) for p in pages]


# ------------------------------------- P14: overlap resolution (UnionFind)


class UnionFind:
    """Union-find with path compression + union by rank
    (layout_postprocessor.py:17-47)."""

    def __init__(self, elements):
        self.parent = {e: e for e in elements}
        self.rank = dict.fromkeys(elements, 0)

    def find(self, x):
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:  # path compression, iterative
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, x, y):
        rx, ry = self.find(x), self.find(y)
        if rx == ry:
            return
        if self.rank[rx] > self.rank[ry]:
            self.parent[ry] = rx
        elif self.rank[rx] < self.rank[ry]:
            self.parent[rx] = ry
        else:
            self.parent[ry] = rx
            self.rank[rx] += 1

    def groups(self) -> dict:
        out: dict = {}
        for e in self.parent:
            out.setdefault(self.find(e), []).append(e)
        return out


def _block_area(b: Block) -> float:
    return max(b.r - b.l, 0.0) * max(b.b - b.t, 0.0)


def _intersection(a: Block, b: Block) -> float:
    w = min(a.r, b.r) - max(a.l, b.l)
    h = min(a.b, b.b) - max(a.t, b.t)
    return w * h if w > 0 and h > 0 else 0.0


# The reference's 'regular' OVERLAP_PARAMS (layout_postprocessor.py:
# 86-106 and 488-543): two blocks overlap when their IoU, or the share
# of either one inside the other, exceeds the first two. A block cannot
# win its group while another member is more than _CONF_MARGIN more
# confident and the block is at most _AREA_RATIO times its area.
_IOU_THRESHOLD = 0.8
_CONTAINMENT_THRESHOLD = 0.8
_AREA_RATIO = 1.3
_CONF_MARGIN = 0.05


def blocks_overlap(a: Block, b: Block) -> bool:
    """IoU above threshold OR either box mostly contained in the other
    (layout_postprocessor.py:86-106 check_overlap)."""
    area_a, area_b = _block_area(a), _block_area(b)
    if area_a <= 0 or area_b <= 0:
        return False
    inter = _intersection(a, b)
    iou = inter / (area_a + area_b - inter)
    return (
        iou > _IOU_THRESHOLD
        or inter / area_a > _CONTAINMENT_THRESHOLD
        or inter / area_b > _CONTAINMENT_THRESHOLD
    )


def resolve_overlapping_blocks(blocks: list[Block]) -> list[Block]:
    """Merge duplicate/contained blocks: candidate pairs from a sorted
    x-interval sweep, grouping via UnionFind, one survivor per group —
    the larger block unless its confidence (parse_score) trails by more
    than ``_CONF_MARGIN`` (layout_postprocessor.py:488-543 +
    _select_best_cluster_from_group, 'regular' OVERLAP_PARAMS). The
    survivor absorbs the losers' text in reading order and grows to the
    union bbox."""
    if len(blocks) < 2:
        return list(blocks)

    ids = list(range(len(blocks)))
    uf = UnionFind(ids)
    # sweep on x-intervals: only pairs whose [l, r] overlap are candidates
    order = sorted(ids, key=lambda i: blocks[i].l)
    active: list[int] = []
    for i in order:
        bi = blocks[i]
        active = [j for j in active if blocks[j].r > bi.l]
        for j in active:
            if blocks[j].page_no == bi.page_no and blocks_overlap(bi, blocks[j]):
                uf.union(i, j)
        active.append(i)

    out: list[tuple[int, Block]] = []  # (reading-order key, block)
    for group in uf.groups().values():
        if len(group) == 1:
            out.append((group[0], blocks[group[0]]))
            continue
        members = sorted(group)  # reading order = creation order
        best = None
        for cand in members:
            bc = blocks[cand]
            ok = True
            for other in members:
                if other == cand:
                    continue
                bo = blocks[other]
                area_ratio = _block_area(bc) / max(_block_area(bo), 1e-9)
                conf_diff = bo.parse_score - bc.parse_score
                if area_ratio <= _AREA_RATIO and conf_diff > _CONF_MARGIN:
                    ok = False
                    break
            if ok and (
                best is None
                or (
                    _block_area(bc) > _block_area(blocks[best])
                    and blocks[best].parse_score - bc.parse_score <= _CONF_MARGIN
                )
            ):
                best = cand
        if best is None:
            best = members[0]
        bb = blocks[best]
        order_key = members[0]
        texts, seen = [], set()
        for m in members:
            t = blocks[m].text
            if t and t not in seen:
                seen.add(t)
                if m == best or t not in bb.text:
                    texts.append(t)
        merged = Block(
            kind=bb.kind,
            text=" ".join(texts) if len(texts) > 1 else bb.text,
            level=bb.level,
            page_no=bb.page_no,
            l=min(blocks[m].l for m in members),
            t=min(blocks[m].t for m in members),
            r=max(blocks[m].r for m in members),
            b=max(blocks[m].b for m in members),
            size=bb.size,
            parse_score=bb.parse_score,
        )
        out.append((order_key, merged))
    # preserve the caller's reading order (page_blocks emits column-major
    # order for two-column pages; a geometric re-sort would interleave
    # the columns) — survivors keep their earliest member's position
    out.sort(key=lambda kv: kv[0])
    return [b for _, b in out]
