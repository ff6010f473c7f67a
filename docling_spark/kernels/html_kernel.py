"""HTML -> document-IR extraction kernel.

Behavioral re-implementation (not a copy) of the reference HTML backend
``/root/reference/docling/backend/html_backend.py`` (HTMLDocumentBackend):
boilerplate strip, furniture/body layering, DOM walk with inline
buffering, heading hierarchy, list semantics, table grid reconstruction,
figure/caption emission, code blocks and unicode cleanup. Each method
cites the reference lines whose observable behavior it reproduces.

The kernel is pure Python per document and embarrassingly parallel
across documents; on Spark it runs inside an Arrow-batched
``mapInPandas`` (see docling_spark.operators.convert.convert_any and
docling_spark.operators.batch.map_docs).
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from dataclasses import dataclass, replace
from typing import Optional, Union
from urllib.parse import urljoin

from .dom import (
    BLOCK_TAG_NAMES,
    WATCH_BLOCK,
    WATCH_FORMULA,
    WATCH_IMG,
    WATCH_TABLE,
    SkipNode,
    Soup,
    Tag,
    TextNode,
    parse_html,
)
from .doc_model import (
    BODY,
    CAPTION,
    FURNITURE,
    SCRIPT_SUB,
    SCRIPT_SUPER,
    Doc,
    Formatting,
    TableCellData,
    TableDataIR,
)
from .hyperlinks import normalize_hyperlink

# reference: html_backend.py:38-55
BLOCK_TAGS = BLOCK_TAG_NAMES  # defined beside its parse-time watch bit

# reference: html_backend.py:57
CODE_TAGS = frozenset(("code", "kbd", "samp"))

# reference: html_backend.py:59-74 (dict order matters for
# _collect_parent_format_tags, see :367-377)
FORMAT_TAG_MAP: dict[str, dict] = {
    "b": {"bold": True},
    "strong": {"bold": True},
    "i": {"italic": True},
    "em": {"italic": True},
    "var": {"italic": True},
    "s": {"strikethrough": True},
    "del": {"strikethrough": True},
    "u": {"underline": True},
    "ins": {"underline": True},
    "sub": {"script": SCRIPT_SUB},
    "sup": {"script": SCRIPT_SUPER},
    "code": {},
    "kbd": {},
    "samp": {},
}

_HEADING_NAMES = ("h1", "h2", "h3", "h4", "h5", "h6")
_WS_RE = re.compile(r"\s+|\n+")

# sentinel for _push_hyperlink: "leave self.hyperlink as-is on exit"
_KEEP = object()

# reference: html_backend.py:947-967 — 19-entry unicode cleanup table
_UNICODE_REPLACEMENTS = {
    " ": " ",
    "​": "",
    "‌": "",
    "‍": "",
    "‐": "-",
    "‑": "-",
    "‒": "-",
    "–": "-",
    "—": "-",
    "―": "-",
    "‘": "'",
    "’": "'",
    "“": '"',
    "”": '"',
    "…": "...",
    "­": "",
    "﻿": "",
    " ": " ",
    "⁠": "",
}
_UNICODE_TRANS = str.maketrans(_UNICODE_REPLACEMENTS)


def clean_unicode(text: str) -> str:
    """reference: html_backend.py:933-971 (_clean_unicode)."""
    return text.translate(_UNICODE_TRANS)


@dataclass
class AnnotatedText:
    """reference: html_backend.py:82-87."""

    text: str
    hyperlink: Optional[str] = None
    formatting: Optional[Formatting] = None
    code: bool = False


def to_single_text_element(items: list[AnnotatedText]) -> AnnotatedText:
    """reference: html_backend.py:90-120 (first-wins annotations)."""
    current_h = None
    current_text = ""
    current_f = None
    current_code = False
    for at in items:
        current_text += at.text.strip() + " "
        if at.formatting is not None and current_f is None:
            current_f = at.formatting
        if at.hyperlink is not None and current_h is None:
            current_h = at.hyperlink
        current_code = at.code if at.code else current_code
    return AnnotatedText(
        text=current_text.strip(),
        hyperlink=current_h,
        formatting=current_f,
        code=current_code,
    )


def simplify_text_elements(items: list[AnnotatedText]) -> list[AnnotatedText]:
    """reference: html_backend.py:122-159 — merge adjacent same-annotation
    segments; separator '' when either side is blank, else ' '."""
    if not items:
        return items
    simplified: list[AnnotatedText] = []
    text = items[0].text
    hyperlink = items[0].hyperlink
    formatting = items[0].formatting
    code = items[0].code
    last_elm = text
    for i in range(1, len(items)):
        it = items[i]
        if hyperlink == it.hyperlink and formatting == it.formatting and code == it.code:
            sep = " "
            if not it.text.strip() or not last_elm.strip():
                sep = ""
            text += sep + it.text
            last_elm = it.text
        else:
            simplified.append(
                AnnotatedText(text=text, hyperlink=hyperlink, formatting=formatting, code=code)
            )
            text = it.text
            last_elm = text
            hyperlink = it.hyperlink
            formatting = it.formatting
            code = it.code
    if text:
        simplified.append(
            AnnotatedText(text=text, hyperlink=hyperlink, formatting=formatting, code=code)
        )
    return simplified


def split_by_newline(items: list[AnnotatedText]) -> list[list[AnnotatedText]]:
    """reference: html_backend.py:161-177 — every embedded newline closes
    the active segment list (including after the final sub-text)."""
    super_list: list[list[AnnotatedText]] = []
    active: list[AnnotatedText] = []
    for el in items:
        sub_texts = el.text.split("\n")
        if len(sub_texts) == 1:
            active.append(el)
        else:
            for text in sub_texts:
                active.append(replace(el, text=text))
                super_list.append(active)
                active = []
    if active:
        super_list.append(active)
    return super_list


def _get_cell_spans(cell: Tag) -> tuple[int, int]:
    """reference: html_backend.py:973-998 (colspan, rowspan)."""
    attrs = cell.attrs
    if "colspan" not in attrs and "rowspan" not in attrs:
        return (1, 1)  # fast path: the overwhelmingly common cell

    def _extract_num(s: str) -> int:
        if s and s[0].isnumeric():
            m = re.search(r"\d+", s)
            if m:
                return int(m.group())
        return 1

    return (
        _extract_num(str(cell.get("colspan", "1"))),
        _extract_num(str(cell.get("rowspan", "1"))),
    )


def get_cell_text(item) -> str:
    """reference: html_backend.py:903-931 (get_text): concatenate child
    strings; <p> and <li> contribute a trailing space."""

    def rec(node) -> list[str]:
        if isinstance(node, TextNode):  # includes comments, as in reference
            return [str(node)]
        if isinstance(node, Tag):
            parts: list[str] = []
            for child in node:
                parts.extend(rec(child))
            joined = "".join(parts)
            return [joined + " " if node.name in ("p", "li") else joined]
        return []

    return "".join(rec(item))


def parse_table_data(element: Tag) -> Optional[TableDataIR]:
    """reference: html_backend.py:1000-1101 (parse_table_data): two-pass
    row/col counting honoring spans + all-<th> row-header detection,
    then occupancy-grid fill with span'd text duplication."""
    if element.watch & WATCH_TABLE:
        return None  # nested table: skip (reference :1002-1005)

    # hoist the row/cell scans AND the span parse: the reference re-runs
    # soup("tr"), row(["td","th"]) and the span regexes per pass;
    # identical results, one traversal + one span parse per cell
    rows_cells = [
        (row, [(c, _get_cell_spans(c)) for c in row(["td", "th"])])
        for row in element("tr")
    ]
    has_formula = bool(element.watch & WATCH_FORMULA)

    num_rows = 0
    num_cols = 0
    for row, row_cells in rows_cells:
        col_count = 0
        is_row_header = True
        for cell, (col_span, row_span) in row_cells:
            col_count += col_span
            if cell.name == "td" or row_span == 1:
                is_row_header = False
        num_cols = max(num_cols, col_count)
        if not is_row_header:
            num_rows += 1

    # occupancy, with one spare free column past the end: on a full row
    # list.index stops there, at num_cols, as a per-column scan would
    grid: list[list] = [[None] * (num_cols + 1) for _ in range(num_rows)]
    data = TableDataIR(num_rows=num_rows, num_cols=num_cols, cells=[])

    start_row_span = 0
    row_idx = -1
    for row, cells in rows_cells:

        col_header = True
        row_header = True
        for html_cell, (_, row_span) in cells:
            if html_cell.name == "td":
                col_header = False
                row_header = False
            elif row_span == 1:
                row_header = False
        if not row_header:
            row_idx += 1
            start_row_span = 0
        else:
            start_row_span += 1

        col_idx = 0
        for html_cell, (col_span, row_span) in cells:
            # inline-formula extraction (reference :1067-1071)
            if has_formula:
                for formula in html_cell("inline-formula"):
                    math_parts = formula.get_text().split("$$")
                    if len(math_parts) == 3:
                        formula.replace_with(TextNode(f"$${math_parts[1]}$$"))

            text = get_cell_text(html_cell).strip()
            if row_header:
                row_span -= 1
            top = row_idx + start_row_span
            # a folded all-<th> row below the last grid row lands nowhere:
            # its cells fall outside the table, as the fill clips them
            if top < num_rows and col_idx < num_cols and grid[top][col_idx] is not None:
                col_idx = grid[top].index(None, col_idx)
            # one slice per covered row, clipped to the table
            end_col = col_idx + col_span
            if end_col > num_cols:
                end_col = num_cols
            end_row = top + row_span
            if end_row > num_rows:
                end_row = num_rows
            fill = [text] * (end_col - col_idx)
            for r in range(top, end_row):
                grid[r][col_idx:end_col] = fill

            data.cells.append(
                TableCellData(
                    text=text,
                    row_span=row_span,
                    col_span=col_span,
                    start_row=start_row_span + row_idx,
                    end_row=start_row_span + row_idx + row_span,
                    start_col=col_idx,
                    end_col=col_idx + col_span,
                    column_header=col_header,
                    row_header=((not col_header) and html_cell.name == "th"),
                )
            )

    return data


class HtmlExtractor:
    """One-shot HTML conversion (reference: HTMLDocumentBackend.convert,
    html_backend.py:237-280 plus the walk/handlers it drives)."""

    def __init__(self, original_url: Optional[str] = None, max_levels: int = 10):
        self.original_url = original_url
        self.max_levels = max_levels

    # -- public entry -----------------------------------------------------
    def convert(self, raw: Union[bytes, str], name: str = "doc") -> Doc:
        soup = parse_html(raw)
        doc = Doc(name=name)

        self.level = 0
        self.parents: dict[int, Optional[object]] = {i: None for i in range(self.max_levels)}
        self.hyperlink: Optional[str] = None
        self.format_tags: list[str] = []

        # <title> -> furniture title (reference :250-259)
        title = soup.title
        if title:
            title_text = title.get_text(separator=" ", strip=True)
            doc.add_title(
                text=clean_unicode(title_text), orig=title_text, content_layer=FURNITURE
            )

        # strip boilerplate (reference :260-265). One fused traversal
        # instead of the reference's three document-wide scans
        # (script/style, hidden, br) — same node set, same order
        # (decompose removes whole subtrees, so a br inside a stripped
        # script can never be reached in either formulation).
        strip: list[Tag] = []
        brs: list[Tag] = []
        for node in soup.descendants():
            if isinstance(node, Tag):
                if node.name in ("script", "style") or "hidden" in node.attrs:
                    strip.append(node)
                elif node.name == "br":
                    brs.append(node)
        for tag in strip:
            tag.decompose()

        content = soup.body or soup
        for br in brs:
            # only replace brs still attached under `content` — the
            # reference scans `soup.body or soup`, so a <br> in <head>
            # stays untouched, and a br whose ancestor was decomposed is
            # detached (its chain ends at None before reaching content).
            anc = br.parent
            while anc is not None and anc is not content:
                anc = anc.parent
            if anc is content:
                br.replace_with(TextNode("\n"))

        # default layer: furniture until the first heading (reference :272-275)
        headers = content.find(_HEADING_NAMES)
        self.content_layer = BODY if headers is None else FURNITURE

        self._walk(content, doc)
        return doc

    # -- formatting / hyperlink state --------------------------------------
    def _collect_parent_format_tags(self, item) -> list[str]:
        """reference: html_backend.py:367-377 — one tag per FORMAT_TAG_MAP
        entry present anywhere on the ancestor chain, in map order (the
        reference walks the chain once per map entry; a single walk +
        membership set computes the identical list)."""
        seen: set[str] = set()
        p = item.parent
        while p is not None:
            if p.name in FORMAT_TAG_MAP:
                seen.add(p.name)
            p = p.parent
        if not seen:
            return []
        return [t for t in FORMAT_TAG_MAP if t in seen]

    @property
    def _formatting(self) -> Optional[Formatting]:
        """reference: html_backend.py:379-386."""
        if not self.format_tags:  # the overwhelmingly common case
            return None
        kwargs: dict = {}
        for t in self.format_tags:
            kwargs.update(FORMAT_TAG_MAP[t])
        return Formatting(**kwargs) if kwargs else None

    @contextmanager
    def _use_format(self, tags: list[str]):
        """reference: html_backend.py:492-501."""
        if not tags:
            yield
        else:
            self.format_tags.extend(tags)
            try:
                yield
            finally:
                self.format_tags = self.format_tags[: -len(tags)]

    def _push_hyperlink(self, tag: Tag):
        """reference: html_backend.py:468-490. Returns the hyperlink to
        restore on exit, or the _KEEP sentinel when the reference would
        leave the current value in place (no/empty href, or a href that
        normalizes to a falsy value — the reference assigns it and does
        NOT restore). Plain call + try/finally at the call sites beats
        a @contextmanager by ~2 frames per child in the hottest loop."""
        this_href = tag.get("href")
        if this_href is None:
            return _KEEP
        if isinstance(this_href, str) and this_href:
            old = self.hyperlink
            if self.original_url is not None:
                this_href = urljoin(str(self.original_url), this_href)
            new = normalize_hyperlink(this_href)
            self.hyperlink = new
            if new:
                return old
        return _KEEP

    @contextmanager
    def _use_hyperlink(self, tag: Tag):
        """Contextmanager shell over _push_hyperlink for the colder
        call sites (reference: html_backend.py:468-490)."""
        old = self._push_hyperlink(tag)
        try:
            yield
        finally:
            if old is not _KEEP:
                self.hyperlink = old

    @contextmanager
    def _use_inline_group(self, parts: list[AnnotatedText], doc: Doc):
        """reference: html_backend.py:503-531."""
        if len(parts) > 1:
            inline = doc.add_group(
                label="inline",
                parent=self.parents[self.level],
                content_layer=self.content_layer,
            )
            self.parents[self.level + 1] = inline
            self.level += 1
            try:
                yield
            finally:
                self.parents[self.level] = None
                self.level -= 1
        else:
            yield

    @contextmanager
    def _use_section_group(self, tag: Tag, doc: Doc, furniture: bool):
        """reference: html_backend.py:533-582 (_use_details/_use_footer —
        same slot bookkeeping, footer also forces the furniture layer)."""
        saved_layer = self.content_layer
        if furniture:
            self.content_layer = FURNITURE
        self.parents[self.level + 1] = doc.add_group(
            name=tag.name,
            label="section",
            parent=self.parents[self.level],
            content_layer=self.content_layer,
        )
        self.level += 1
        try:
            yield
        finally:
            self.parents[self.level + 1] = None
            self.level -= 1
            if furniture:
                self.content_layer = saved_layer

    # -- text extraction ----------------------------------------------------
    def _extract(
        self,
        item,
        ignore_list: bool = False,
        find_parent_annotation: bool = False,
        keep_newlines: bool = False,
    ) -> list[AnnotatedText]:
        """reference: html_backend.py:388-466
        (_extract_text_and_hyperlink_recursively)."""
        if find_parent_annotation:
            format_tags = self._collect_parent_format_tags(item)
            p = item.parent
            while p is not None:
                if p.name == "a" and p.get("href"):
                    with self._use_format(format_tags):
                        with self._use_hyperlink(p):
                            # keep_newlines intentionally dropped, as in
                            # the reference (:407-409)
                            return self._extract(item, ignore_list)
                p = p.parent

        if isinstance(item, SkipNode):
            return []

        if isinstance(item, TextNode):
            text = item.strip()
            ft = self.format_tags
            code = bool(ft) and not CODE_TAGS.isdisjoint(ft)
            if text:
                return [
                    AnnotatedText(
                        text=text,
                        hyperlink=self.hyperlink,
                        formatting=self._formatting,
                        code=code,
                    )
                ]
            if keep_newlines and item.strip("\n\r") == "":
                return [
                    AnnotatedText(
                        text="\n",
                        hyperlink=self.hyperlink,
                        formatting=self._formatting,
                        code=code,
                    )
                ]
            return []

        result: list[AnnotatedText] = []
        tag: Tag = item
        if not ignore_list or tag.name not in ("ul", "ol"):
            # hottest loop in the kernel: the format/hyperlink pushes
            # are inlined (append/del and _push_hyperlink) instead of
            # @contextmanager — same state discipline, no generator +
            # _GeneratorContextManager per child (profiled ~7% of
            # convert time on the crawl corpus)
            for child in tag:
                if isinstance(child, Tag):
                    cname = child.name
                    if cname in FORMAT_TAG_MAP:
                        self.format_tags.append(cname)
                        try:
                            result.extend(
                                self._extract(
                                    child, ignore_list, keep_newlines=keep_newlines
                                )
                            )
                        finally:
                            del self.format_tags[-1]
                        continue
                    if cname == "a":
                        old = self._push_hyperlink(child)
                        try:
                            result.extend(
                                self._extract(
                                    child, ignore_list, keep_newlines=keep_newlines
                                )
                            )
                        finally:
                            if old is not _KEEP:
                                self.hyperlink = old
                        continue
                result.extend(
                    self._extract(child, ignore_list, keep_newlines=keep_newlines)
                )
        return result

    # -- the DOM walk ---------------------------------------------------------
    def _walk(self, element: Tag, doc: Doc) -> None:
        """reference: html_backend.py:282-365 (_walk + flush_buffer)."""
        buffer: list[AnnotatedText] = []

        def flush_buffer():
            if not buffer:
                return
            simplified = simplify_text_elements(buffer)
            parts = split_by_newline(simplified)
            buffer.clear()
            if not "".join(el.text for el in simplified):
                return
            for part in parts:
                with self._use_inline_group(part, doc):
                    for at in part:
                        if at.text.strip():
                            seg_clean = clean_unicode(at.text.strip())
                            if at.code:
                                doc.add_code(
                                    parent=self.parents[self.level],
                                    text=seg_clean,
                                    content_layer=self.content_layer,
                                    formatting=at.formatting,
                                    hyperlink=at.hyperlink,
                                )
                            else:
                                doc.add_text(
                                    parent=self.parents[self.level],
                                    text=seg_clean,
                                    content_layer=self.content_layer,
                                    formatting=at.formatting,
                                    hyperlink=at.hyperlink,
                                )

        for node in element.contents:
            if isinstance(node, Tag):
                name = node.name.lower()
                if name == "img":
                    flush_buffer()
                    self._emit_image(node, doc)
                elif name in FORMAT_TAG_MAP:
                    with self._use_format([name]):
                        self._walk(node, doc)
                elif name == "a":
                    with self._use_hyperlink(node):
                        self._walk(node, doc)
                elif name in BLOCK_TAGS:
                    flush_buffer()
                    self._handle_block(node, doc)
                elif node.watch & WATCH_BLOCK:
                    flush_buffer()
                    self._walk(node, doc)
                else:
                    buffer.extend(
                        self._extract(node, find_parent_annotation=True, keep_newlines=True)
                    )
            elif isinstance(node, TextNode) and not isinstance(node, SkipNode):
                if str(node).strip("\n\r") == "":
                    flush_buffer()
                else:
                    buffer.extend(
                        self._extract(node, find_parent_annotation=True, keep_newlines=True)
                    )

        flush_buffer()

    # -- block handlers ----------------------------------------------------------
    def _handle_heading(self, tag: Tag, doc: Doc) -> None:
        """reference: html_backend.py:584-638."""
        self.content_layer = BODY
        level = int(tag.name[1])
        parts = self._extract(tag, find_parent_annotation=True)
        at = to_single_text_element(parts)
        text_clean = clean_unicode(at.text)
        if level == 1:
            for key in self.parents:
                self.parents[key] = None
            self.level = 0
            self.parents[self.level + 1] = doc.add_title(
                text_clean,
                content_layer=self.content_layer,
                formatting=at.formatting,
                hyperlink=at.hyperlink,
            )
        else:
            level -= 1
            if level > self.level:
                for i in range(self.level, level):
                    self.parents[i + 1] = doc.add_group(
                        name=f"header-{i + 1}",
                        label="section",
                        parent=self.parents[i],
                        content_layer=self.content_layer,
                    )
                self.level = level
            elif level < self.level:
                for key in self.parents:
                    if key > level + 1:
                        self.parents[key] = None
                self.level = level
            self.parents[self.level + 1] = doc.add_heading(
                parent=self.parents[self.level],
                text=text_clean,
                orig=at.text,
                level=self.level,
                content_layer=self.content_layer,
                formatting=at.formatting,
                hyperlink=at.hyperlink,
            )
        self.level += 1
        if tag.watch & WATCH_IMG:
            for img_tag in tag("img"):
                self._emit_image(img_tag, doc)

    def _handle_list(self, tag: Tag, doc: Doc) -> None:
        """reference: html_backend.py:640-767."""
        is_ordered = tag.name == "ol"
        start: Optional[int] = None
        if is_ordered:
            start_attr = tag.get("start")
            if isinstance(start_attr, str) and start_attr.isnumeric():
                start = int(start_attr)
            name = "ordered list" + (f" start {start}" if start is not None else "")
        else:
            name = "list"
        list_group = doc.add_list_group(
            name=name, parent=self.parents[self.level], content_layer=self.content_layer
        )
        self.parents[self.level + 1] = list_group
        self.level += 1

        for li in tag.find_all(("li", "ul", "ol"), recursive=False):
            if li.name in ("ul", "ol"):
                # invalid HTML tolerated as in reference (:669-672)
                self._handle_block(li, doc)
                continue

            if is_ordered and start is not None:
                marker = f"{start + len(list_group.children)}."
            else:
                marker = ""

            parts = self._extract(li, ignore_list=True, find_parent_annotation=True)
            min_parts = simplify_text_elements(parts)
            li_text = _WS_RE.sub(" ", "".join(el.text for el in min_parts)).strip()

            if li_text:
                if len(min_parts) > 1:
                    self.parents[self.level + 1] = doc.add_list_item(
                        text="",
                        enumerated=is_ordered,
                        marker=marker,
                        parent=list_group,
                        content_layer=self.content_layer,
                    )
                    self.level += 1
                    with self._use_inline_group(min_parts, doc):
                        for at in min_parts:
                            seg = _WS_RE.sub(" ", at.text).strip()
                            seg_clean = clean_unicode(seg)
                            if at.code:
                                doc.add_code(
                                    parent=self.parents[self.level],
                                    text=seg_clean,
                                    content_layer=self.content_layer,
                                    formatting=at.formatting,
                                    hyperlink=at.hyperlink,
                                )
                            else:
                                doc.add_text(
                                    parent=self.parents[self.level],
                                    text=seg_clean,
                                    content_layer=self.content_layer,
                                    formatting=at.formatting,
                                    hyperlink=at.hyperlink,
                                )
                    for sublist in li(("ul", "ol"), recursive=False):
                        self._handle_block(sublist, doc)
                    self.parents[self.level] = None
                    self.level -= 1
                else:
                    at = min_parts[0]
                    li_text = _WS_RE.sub(" ", at.text).strip()
                    li_clean = clean_unicode(li_text)
                    self.parents[self.level + 1] = doc.add_list_item(
                        text=li_clean,
                        enumerated=is_ordered,
                        marker=marker,
                        orig=li_text,
                        parent=list_group,
                        content_layer=self.content_layer,
                        formatting=at.formatting,
                        hyperlink=at.hyperlink,
                    )
                    for sublist in li(("ul", "ol"), recursive=False):
                        self.level += 1
                        self._handle_block(sublist, doc)
                        self.parents[self.level + 1] = None
                        self.level -= 1
            else:
                for sublist in li(("ul", "ol"), recursive=False):
                    self._handle_block(sublist, doc)

            if li.watch & WATCH_IMG:
                for img_tag in li("img"):
                    self._emit_image(img_tag, doc)

        self.parents[self.level + 1] = None
        self.level -= 1

    def _handle_block(self, tag: Tag, doc: Doc) -> None:
        """reference: html_backend.py:769-852."""
        name = tag.name

        if name == "figure":
            img_tag = tag.find("img") if tag.watch & WATCH_IMG else None
            if img_tag is not None:
                self._emit_image(img_tag, doc)

        elif name in _HEADING_NAMES:
            self._handle_heading(tag, doc)

        elif name in ("ul", "ol"):
            self._handle_list(tag, doc)

        elif name in ("p", "address", "summary"):
            parts = simplify_text_elements(
                self._extract(tag, find_parent_annotation=True)
            )
            for part in split_by_newline(parts):
                with self._use_inline_group(part, doc):
                    for at in part:
                        seg = at.text.strip()
                        if seg:
                            seg_clean = clean_unicode(seg)
                            if at.code:
                                doc.add_code(
                                    parent=self.parents[self.level],
                                    text=seg_clean,
                                    content_layer=self.content_layer,
                                    formatting=at.formatting,
                                    hyperlink=at.hyperlink,
                                )
                            else:
                                doc.add_text(
                                    parent=self.parents[self.level],
                                    text=seg_clean,
                                    content_layer=self.content_layer,
                                    formatting=at.formatting,
                                    hyperlink=at.hyperlink,
                                )
            if tag.watch & WATCH_IMG:
                for img_tag in tag("img"):
                    self._emit_image(img_tag, doc)

        elif name == "table":
            data = parse_table_data(tag)
            if tag.watch & WATCH_IMG:
                for _img_tag in tag("img"):
                    # reference passes the *table* tag here (:817-819)
                    self._emit_image(tag, doc)
            if data is not None:
                doc.add_table(
                    data=data,
                    parent=self.parents[self.level],
                    content_layer=self.content_layer,
                )

        elif name == "pre":
            parts = simplify_text_elements(
                self._extract(tag, find_parent_annotation=True, keep_newlines=True)
            )
            with self._use_inline_group(parts, doc):
                for at in parts:
                    doc.add_code(
                        parent=self.parents[self.level],
                        text=clean_unicode(at.text.strip()),
                        content_layer=self.content_layer,
                        formatting=at.formatting,
                        hyperlink=at.hyperlink,
                    )

        elif name == "footer":
            with self._use_section_group(tag, doc, furniture=True):
                self._walk(tag, doc)

        elif name == "details":
            with self._use_section_group(tag, doc, furniture=False):
                self._walk(tag, doc)

    def _emit_image(self, img_tag: Tag, doc: Doc) -> None:
        """reference: html_backend.py:854-901."""
        figure = img_tag.find_parent("figure")
        caption: list[AnnotatedText] = []

        p = img_tag.parent
        img_hyperlink = None
        while p is not None:
            if p.name == "a" and p.get("href"):
                img_hyperlink = p.get("href")
                break
            p = p.parent
        if img_hyperlink:
            caption.append(
                AnnotatedText(
                    text="Image Hyperlink.",
                    hyperlink=normalize_hyperlink(img_hyperlink),
                )
            )

        if figure is not None:
            caption_tag = figure.find("figcaption", recursive=False)
            if caption_tag is not None:
                caption = self._extract(caption_tag, find_parent_annotation=True)
        if not caption and img_tag.get("alt"):
            caption = [AnnotatedText(text=img_tag.get("alt"))]

        at = to_single_text_element(caption)
        caption_item = None
        if at.text:
            caption_item = doc.add_text(
                label=CAPTION,
                text=clean_unicode(at.text.strip()),
                orig=at.text,
                content_layer=self.content_layer,
                formatting=at.formatting,
                hyperlink=at.hyperlink,
            )
        doc.add_picture(
            caption=caption_item,
            parent=self.parents[self.level],
            content_layer=self.content_layer,
        )
