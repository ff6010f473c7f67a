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

import gc
import re
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Optional, Union
from urllib.parse import urljoin

from .dom import (
    BLOCK_TAG_NAMES,
    WATCH_BLOCK,
    WATCH_FORMULA,
    WATCH_IMG,
    WATCH_TABLE,
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
# _collect's frame action: pop the format tag pushed on entry
_POP_FORMAT = object()

_LIST_NAMES = ("ul", "ol")
_LIST_CHILD_NAMES = ("li", "ul", "ol")

# depth of the heading/section parent slots prefilled per document
_MAX_LEVELS = 10


def _sublists(li: Tag) -> list[Tag]:
    """The ``ul``/``ol`` children of a list item; a list is a block, so
    an item whose watch bits hold no block has none."""
    if not li.watch & WATCH_BLOCK:
        return []
    return [c for c in li.contents if c.is_tag and c.name in _LIST_NAMES]


def _link_ancestor(tag: Optional[Tag]) -> Optional[Tag]:
    """The nearest ``<a>`` with a non-empty href at or above ``tag``
    (reference: html_backend.py:399-404)."""
    while tag is not None:
        if tag.name == "a" and tag.get("href"):
            return tag
        tag = tag.parent
    return None


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
    """reference: html_backend.py:933-971 (_clean_unicode). Every
    replaced character is non-ASCII, so ASCII text (an O(1) test) is
    returned as it is instead of paying translate's per-character
    lookups."""
    return text if text.isascii() else text.translate(_UNICODE_TRANS)


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
    if len(items) < 2:  # nothing to merge: an empty run is dropped
        return [items[0]] if items and items[0].text else []
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
                active.append(AnnotatedText(text, el.hyperlink, el.formatting, el.code))
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
    if not item.is_tag:  # includes comments, as in reference
        return str(item)
    parts: list[str] = []
    _cell_text(item, parts)
    if item.name in ("p", "li"):
        parts.append(" ")
    return "".join(parts)


def _cell_text(tag: Tag, parts: list[str]) -> None:
    for child in tag.contents:
        if child.is_tag:
            _cell_text(child, parts)
            if child.name in ("p", "li"):
                parts.append(" ")
        else:
            parts.append(child)


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
    html_backend.py:237-280 plus the walk/handlers it drives).

    The walk visits the block structure recursively (``_walk`` and the
    ``_handle_*`` handlers). Inline text under a node is collected by
    ``_collect``: one iterative pre-order pass that pushes every
    annotated run into one output list, carrying the format tags and
    the hyperlink as state pushed on entry to a tag and restored on
    exit."""

    def __init__(self, original_url: Optional[str] = None):
        self.original_url = original_url

    # -- public entry -----------------------------------------------------
    def convert(self, raw: Union[bytes, str], name: str = "doc") -> Doc:
        # The cyclic GC stays off for the call: the DOM (cyclic through
        # its parent pointers) and the Doc are thousands of containers
        # that all live until the call returns, so every collection
        # their allocation would trigger scans them, promotes them and
        # frees nothing. Everything the call allocated is still in the
        # young generation at its end; one collection of it then frees
        # the dropped DOM here rather than in the caller's next
        # allocation.
        if not gc.isenabled():
            return self._convert(raw, name)
        gc.disable()
        try:
            return self._convert(raw, name)
        finally:
            gc.enable()
            gc.collect(0)

    def _convert(self, raw: Union[bytes, str], name: str) -> Doc:
        soup = parse_html(raw)
        doc = Doc(name=name)

        self.level = 0
        self.parents: dict[int, Optional[object]] = dict.fromkeys(range(_MAX_LEVELS))
        self.hyperlink: Optional[str] = None
        self.format_tags: list[str] = []
        self._links: dict[str, str] = {}  # href -> normalized, this document

        # <title> -> furniture title (reference :250-259)
        title = soup.title
        if title:
            title_text = title.get_text(separator=" ", strip=True)
            doc.add_title(
                text=clean_unicode(title_text), orig=title_text, content_layer=FURNITURE
            )

        # strip boilerplate (reference :260-265). The parser collected
        # the reference's three document-wide scans (script/style,
        # hidden, br) in document order, the order one fused scan would
        # find them in; decompose removes whole subtrees, so a br inside
        # a stripped tag is never reached in either formulation.
        for tag in soup.strip_tags:
            tag.decompose()

        content = soup.body or soup
        for br in soup.br_tags:
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

    def _format_state(self) -> tuple[Optional[Formatting], bool]:
        """reference: html_backend.py:379-386 (the formatting of the
        current format tags) and the code flag of :420-423."""
        ft = self.format_tags
        if not ft:  # the overwhelmingly common case
            return None, False
        kwargs: dict = {}
        for t in ft:
            kwargs.update(FORMAT_TAG_MAP[t])
        fmt = Formatting(**kwargs) if kwargs else None
        return fmt, not CODE_TAGS.isdisjoint(ft)

    def _push_hyperlink(self, tag: Tag):
        """reference: html_backend.py:468-490. Returns the hyperlink to
        restore on exit, or the _KEEP sentinel when the reference would
        leave the current value in place (no/empty href, or a href that
        normalizes to a falsy value — the reference assigns it and does
        NOT restore)."""
        this_href = tag.get("href")
        if this_href is None:
            return _KEEP
        if isinstance(this_href, str) and this_href:
            old = self.hyperlink
            new = self._links.get(this_href)
            if new is None:
                href = this_href
                if self.original_url is not None:
                    href = urljoin(str(self.original_url), href)
                new = self._links[this_href] = normalize_hyperlink(href)
            self.hyperlink = new
            if new:
                return old
        return _KEEP

    def _open_inline_group(self, n_parts: int, doc: Doc) -> bool:
        """reference: html_backend.py:503-531 (_use_inline_group): more
        than one run opens an inline group one level down; True when it
        did, and ``_close_inline_group`` must follow the runs."""
        if n_parts < 2:
            return False
        self.parents[self.level + 1] = doc.add_group(
            label="inline",
            parent=self.parents[self.level],
            content_layer=self.content_layer,
        )
        self.level += 1
        return True

    def _close_inline_group(self) -> None:
        self.parents[self.level] = None
        self.level -= 1

    def _add_run(self, at: AnnotatedText, text: str, doc: Doc) -> None:
        """One run as a code or text item under the current parent."""
        (doc.add_code if at.code else doc.add_text)(
            parent=self.parents[self.level],
            text=text,
            content_layer=self.content_layer,
            formatting=at.formatting,
            hyperlink=at.hyperlink,
        )

    def _add_line(self, part: list[AnnotatedText], doc: Doc) -> None:
        """One line of runs (a ``split_by_newline`` part): its non-blank
        runs, stripped and cleaned, in an inline group when there are
        several."""
        grouped = self._open_inline_group(len(part), doc)
        for at in part:
            seg = at.text.strip()
            if seg:
                self._add_run(at, clean_unicode(seg), doc)
        if grouped:
            self._close_inline_group()

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
    def _extract(self, item, keep_newlines: bool = False) -> list[AnnotatedText]:
        """reference: html_backend.py:388-466
        (_extract_text_and_hyperlink_recursively, called with
        find_parent_annotation as at every block handler): the annotated
        runs under ``item``."""
        out: list[AnnotatedText] = []
        self._extract_under(item, _link_ancestor(item.parent), False, keep_newlines, out)
        return out

    def _extract_under(
        self,
        item,
        link: Optional[Tag],
        ignore_list: bool,
        keep_newlines: bool,
        out: list[AnnotatedText],
    ) -> None:
        """``_extract`` with the parent annotation already looked up:
        ``link`` is the nearest ``<a href>`` above ``item``, or None."""
        if link is None:
            self._collect(item, ignore_list, keep_newlines, out)
            return
        # under a link, the ancestors' format tags and the link's href
        # apply, and keep_newlines is dropped, as in the reference
        # (:399-409)
        format_tags = self._collect_parent_format_tags(item)
        ft = self.format_tags
        ft.extend(format_tags)
        old = self._push_hyperlink(link)
        try:
            self._collect(item, ignore_list, False, out)
        finally:
            if old is not _KEEP:
                self.hyperlink = old
            if format_tags:
                del ft[-len(format_tags) :]

    def _collect(
        self, item, ignore_list: bool, keep_newlines: bool, out: list[AnnotatedText]
    ) -> None:
        """The recursion of html_backend.py:410-466 as one pre-order pass
        with an explicit stack. Each frame is a child iterator plus what
        to undo when it is exhausted: pop a format tag (_POP_FORMAT),
        restore a hyperlink (its old value), or nothing (_KEEP). The
        formatting and code flag change only on a format push or pop."""
        if item.is_tag:
            if ignore_list and item.name in _LIST_NAMES:
                return
            contents = item.contents
            if len(contents) != 1 or type(contents[0]) is not TextNode:
                self._collect_tree(contents, ignore_list, keep_newlines, out)
                return
            item = contents[0]  # <p>text</p>: the text node's run
        elif type(item) is not TextNode:  # SkipNodes carry no text
            return
        # reference: html_backend.py:412-433 — one text node's run
        text = item.strip()
        if text or (keep_newlines and not item.strip("\n\r")):
            fmt, code = self._format_state()
            out.append(AnnotatedText(text or "\n", self.hyperlink, fmt, code))

    def _collect_tree(
        self, contents: list, ignore_list: bool, keep_newlines: bool, out: list
    ) -> None:
        ft = self.format_tags
        fmt, code = self._format_state()
        hyperlink = self.hyperlink
        append = out.append
        stack = [(iter(contents), _KEEP)]
        while stack:
            for child in stack[-1][0]:
                if child.is_tag:
                    name = child.name
                    if name in FORMAT_TAG_MAP:
                        if child.contents:
                            ft.append(name)
                            fmt, code = self._format_state()
                            stack.append((iter(child.contents), _POP_FORMAT))
                            break
                    elif name == "a":
                        # pushed even when empty: a falsy href sticks
                        undo = self._push_hyperlink(child)
                        hyperlink = self.hyperlink
                        stack.append((iter(child.contents), undo))
                        break
                    elif child.contents and not (ignore_list and name in _LIST_NAMES):
                        stack.append((iter(child.contents), _KEEP))
                        break
                elif type(child) is TextNode:
                    text = child.strip()
                    if text:
                        append(AnnotatedText(text, hyperlink, fmt, code))
                    elif keep_newlines and not child.strip("\n\r"):
                        append(AnnotatedText("\n", hyperlink, fmt, code))
            else:
                undo = stack.pop()[1]
                if undo is _POP_FORMAT:
                    del ft[-1]
                    fmt, code = self._format_state()
                elif undo is not _KEEP:
                    self.hyperlink = hyperlink = undo

    # -- the DOM walk ---------------------------------------------------------
    def _walk(self, element: Tag, doc: Doc) -> None:
        """reference: html_backend.py:282-365 (_walk + flush_buffer)."""
        buffer: list[AnnotatedText] = []
        # the inline children's parent annotation: they share a parent
        link = _link_ancestor(element)

        def flush_buffer():
            if not buffer:
                return
            simplified = simplify_text_elements(buffer)
            buffer.clear()
            if not "".join(el.text for el in simplified):
                return
            for part in split_by_newline(simplified):
                self._add_line(part, doc)

        for node in element.contents:
            if node.is_tag:
                name = node.name  # the parser lowercases tag names
                if name == "img":
                    flush_buffer()
                    self._emit_image(node, doc)
                elif name in FORMAT_TAG_MAP:
                    self.format_tags.append(name)
                    try:
                        self._walk(node, doc)
                    finally:
                        del self.format_tags[-1]
                elif name == "a":
                    old = self._push_hyperlink(node)
                    try:
                        self._walk(node, doc)
                    finally:
                        if old is not _KEEP:
                            self.hyperlink = old
                elif name in BLOCK_TAGS:
                    flush_buffer()
                    self._handle_block(node, doc)
                elif node.watch & WATCH_BLOCK:
                    flush_buffer()
                    self._walk(node, doc)
                else:
                    self._extract_under(node, link, False, True, buffer)
            elif type(node) is TextNode:
                if not node.strip("\n\r"):
                    flush_buffer()
                else:
                    self._extract_under(node, link, False, True, buffer)

        flush_buffer()

    # -- block handlers ----------------------------------------------------------
    def _handle_heading(self, tag: Tag, doc: Doc) -> None:
        """reference: html_backend.py:584-638."""
        self.content_layer = BODY
        level = int(tag.name[1])
        parts = self._extract(tag)
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
        # the items' parent annotation: they share a parent
        link = _link_ancestor(tag)

        for li in tag.contents:
            if not li.is_tag or li.name not in _LIST_CHILD_NAMES:
                continue
            if li.name in _LIST_NAMES:
                # invalid HTML tolerated as in reference (:669-672)
                self._handle_block(li, doc)
                continue

            if is_ordered and start is not None:
                marker = f"{start + len(list_group.children)}."
            else:
                marker = ""

            parts: list[AnnotatedText] = []
            self._extract_under(li, link, True, False, parts)
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
                    grouped = self._open_inline_group(len(min_parts), doc)
                    for at in min_parts:
                        seg = _WS_RE.sub(" ", at.text).strip()
                        self._add_run(at, clean_unicode(seg), doc)
                    if grouped:
                        self._close_inline_group()
                    for sublist in _sublists(li):
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
                    for sublist in _sublists(li):
                        self.level += 1
                        self._handle_block(sublist, doc)
                        self.parents[self.level + 1] = None
                        self.level -= 1
            else:
                for sublist in _sublists(li):
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
                self._extract(tag)
            )
            for part in split_by_newline(parts):
                self._add_line(part, doc)
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
                self._extract(tag, keep_newlines=True)
            )
            grouped = self._open_inline_group(len(parts), doc)
            for at in parts:
                doc.add_code(
                    parent=self.parents[self.level],
                    text=clean_unicode(at.text.strip()),
                    content_layer=self.content_layer,
                    formatting=at.formatting,
                    hyperlink=at.hyperlink,
                )
            if grouped:
                self._close_inline_group()

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
                caption = self._extract(caption_tag)
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
