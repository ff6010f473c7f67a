"""Document-IR -> Markdown serializer.

Re-creates the observable behavior of the reference's
``DoclingDocument.export_to_markdown()`` (docling-core dependency, not
vendored in the reference repo), reverse-engineered from the committed
golden fixtures ``/root/reference/tests/data/groundtruth/docling_v2/
*.html.md`` (the byte-identity target, see
/root/reference/tests/test_backend_html.py:156-183 and
tests/verify_utils.py:500-511):

* body layer only; furniture is left out;
* top-level blocks joined with a blank line;
* title ``# ``, section header level N -> ``#`` x (N+1);
* inline groups joined with a single space (producing the
  characteristic `` .`` before punctuation);
* bold ``**``, italic ``*``, strikethrough ``~~``, underline/sub/sup
  dropped; hyperlinks ``[text](url)``; underscores escaped in text;
* list items ``- `` / ``{n}. `` with 4-space indent per nested list
  group; enumerated items use their stored marker, else their ordinal;
* code: fenced block standalone, single backticks in inline scope;
* pictures: optional caption text + ``<!-- image -->``;
* tables: padded github-style pipe grid with numeric right-alignment
  (tabulate-compatible: column width >= header width + 2); a run of
  identical adjacent columns (a colspan) is laid out and rendered once,
  then repeated.
"""

from __future__ import annotations

import re
from itertools import groupby
from typing import Optional

from .doc_model import (
    BODY,
    CAPTION,
    CODE,
    G_INLINE,
    G_LIST,
    G_SECTION,
    GROUP,
    LIST_ITEM,
    PICTURE,
    SECTION_HEADER,
    TABLE,
    TEXT,
    TITLE,
    Doc,
    DocNode,
    TableDataIR,
)

_INDENT = "    "


def _escape_text(text: str) -> str:
    """Escape markdown-significant underscores and HTML specials
    (observed in wiki_duck.html.md: ``10.1007/978-1-4615-6787-5\\_4`` in
    link text while the URL stays unescaped; ``&`` rendered ``&amp;`` in
    text items but not in table cells or code)."""
    text = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return text.replace("_", "\\_")


def _render_inline(node: DocNode) -> str:
    """Render a text-like item with formatting + hyperlink markers."""
    if node.kind == "formula":
        return f"${node.text}$" if node.text else ""
    if node.kind == CODE:
        text = f"`{node.text}`"
        f = node.formatting
        if f is not None:
            if f.bold:
                text = f"**{text}**"
            if f.italic:
                text = f"*{text}*"
        return text
    text = _escape_text(node.text)
    f = node.formatting
    if f is not None and text:
        if f.bold:
            text = f"**{text}**"
        if f.italic:
            text = f"*{text}*"
        if f.strikethrough:
            text = f"~~{text}~~"
    if node.hyperlink and text:
        text = f"[{text}]({node.hyperlink})"
    return text


# ---------------------------------------------------------------- tables


def _is_number(s: str) -> bool:
    if not s:
        return False
    try:
        float(s)
    except ValueError:
        try:
            int(s, 16) if s.lower().startswith("0x") else int(s)
        except ValueError:
            return False
        return True
    return s.lower() not in ("inf", "-inf", "nan")


def _format_number(s: str) -> str:
    try:
        int(s)
        return str(int(s))
    except ValueError:
        return format(float(s), "g")


_CONTROL = re.compile(r"[\x00-\x1f]")


def _cell_width(s: str) -> int:
    # tabulate measures via wcswidth, which returns -1 for strings
    # holding control chars (e.g. an embedded tab, csv-tab golden);
    # such cells don't widen the column and get width+1 padding
    return -1 if _CONTROL.search(s) else len(s)


def _pad(s: str, width: int, right: bool) -> str:
    fill = " " * max(width - _cell_width(s), 0)
    return fill + s if right else s + fill


def render_table(table: TableDataIR) -> str:
    grid = table.grid()
    if not grid or table.num_cols == 0:
        return ""
    lines: list[list[str]] = [[] for _ in grid]  # rendered runs per row
    rule = []
    # adjacent identical columns render identically: lay out each run
    # of them once and repeat its cells, so a wide colspan costs one
    # column of Python work
    for column, run in groupby(zip(*grid)):
        k = len(list(run))
        head, *body = [cell.replace("\n", " ") for cell in column]
        # tabulate: a column is numeric only if EVERY body cell parses
        # as a number — an empty cell makes it textual (pone golden)
        numeric = bool(body) and all(map(_is_number, body))
        if numeric:
            body = list(map(_format_number, body))
        # tabulate MIN_PADDING on headers
        width = max([len(head) + 2, *map(_cell_width, body)])
        for out, cell in zip(lines, [head, *body]):
            out.append(" | ".join([_pad(cell, width, numeric)] * k))
        rule.append("|".join(["-" * (width + 2)] * k))
    rows = ["| " + " | ".join(out) + " |" for out in lines]
    rows.insert(1, "|" + "|".join(rule) + "|")
    return "\n".join(rows)


# ---------------------------------------------------------------- serializer


class MarkdownSerializer:
    def __init__(self, doc: Doc):
        self.doc = doc
        # caption items referenced by pictures are rendered inside the
        # picture block, never standalone
        self.caption_refs = {
            n.caption_id
            for n in doc.nodes
            if n.kind in (PICTURE, TABLE) and n.caption_id >= 0
        }

    def _children(self, node: Optional[DocNode]) -> list[DocNode]:
        """The visible children of ``node`` (the body root for None):
        body-layer nodes that are not a picture's or table's caption."""
        ids = self.doc.body_children if node is None else node.children
        if not ids:
            return []
        nodes = self.doc.nodes
        refs = self.caption_refs
        return [
            c
            for c in map(nodes.__getitem__, ids)
            if c.content_layer == BODY and c.node_id not in refs
        ]

    def _inline(self, group: DocNode) -> str:
        """An inline group's visible runs joined by one space."""
        return " ".join(map(_render_inline, self._children(group)))

    def serialize(self) -> str:
        blocks: list[str] = []
        for child in self._children(None):
            blocks.extend(self._ser(child, 0))
        return "\n\n".join(b for b in blocks if b)

    # returns a list of top-level blocks for this node (and its subtree)
    def _ser(self, node: DocNode, list_depth: int) -> list[str]:
        kind = node.kind
        doc = self.doc
        if kind == GROUP and node.group_label == G_LIST:
            lines = self._ser_list(node, list_depth)
            return ["\n".join(lines)] if lines else []
        children = self._children(node)

        if kind == GROUP:
            if node.group_label == G_INLINE:
                joined = " ".join(map(_render_inline, children))
                return [joined] if joined else []
            # section / generic groups: flatten children
            blocks = []
        elif kind in (TITLE, SECTION_HEADER):
            # markdown has exactly 6 heading levels; deeper section
            # levels (font-size-ranked PDF hierarchies can nest past
            # 5) clamp to ###### instead of emitting invalid md
            prefix = "#" if kind == TITLE else "#" * min(node.level + 1, 6)
            head = _render_inline(node)
            parts = [head] if head else []
            rest = []
            for c in children:
                if c.kind == GROUP and c.group_label == G_INLINE and c.name == "heading-runs":
                    joined = self._inline(c)
                    if joined:
                        parts.append(joined)
                else:
                    rest.append(c)
            blocks = [f"{prefix} {' '.join(parts)}"]
            children = rest
        elif kind == "formula":
            blocks = [f"$${node.text}$$"] if node.text else []
        elif kind in (TEXT, CAPTION, LIST_ITEM, "paragraph", "footnote"):
            r = _render_inline(node)
            blocks = [r] if r else []
        elif kind == CODE:
            blocks = [f"```\n{node.text}\n```"]
        elif kind == PICTURE:
            parts = []
            if node.caption_id >= 0:
                cap = doc.nodes[node.caption_id]
                cap_text = _escape_text(cap.text)
                if cap_text:
                    parts.append(cap_text)
            parts.append("<!-- image -->")
            blocks = ["\n\n".join(parts)]
        elif kind == TABLE:
            rendered = render_table(node.table) if node.table else ""
            blocks = []
            if node.caption_id >= 0:
                cap_text = _escape_text(doc.nodes[node.caption_id].text)
                if cap_text:
                    blocks.append(cap_text)
            if rendered:
                blocks.append(rendered)
        else:
            blocks = []

        for c in children:
            blocks.extend(self._ser(c, list_depth))
        return blocks

    def _ser_list(self, group: DocNode, depth: int) -> list[str]:
        indent = _INDENT * depth
        lines: list[str] = []
        ordinal = 0
        for child in self._children(group):
            if child.kind == LIST_ITEM:
                ordinal += 1
                if child.enumerated:
                    marker = child.marker if child.marker else f"{ordinal}."
                else:
                    marker = "-"
                segs = []
                head = _render_inline(child)
                if head:
                    segs.append(head)
                tail_lines: list[str] = []
                for sub in self._children(child):
                    if sub.kind == GROUP and sub.group_label == G_INLINE:
                        joined = self._inline(sub)
                        if joined:
                            segs.append(joined)
                    elif sub.kind == GROUP and sub.group_label == G_LIST:
                        tail_lines.extend(self._ser_list(sub, depth + 1))
                    else:
                        tail_lines.extend(self._ser(sub, depth + 1))
                # keep a trailing space inside item text (pptx golden
                # "- l1 "); rstrip only the empty-item "marker + space"
                line = f"{indent}{marker} {' '.join(segs)}"
                lines.append(line if segs else line.rstrip())
                lines.extend(tail_lines)
            elif child.kind == GROUP and child.group_label == G_LIST:
                lines.extend(self._ser_list(child, depth + 1))
            else:
                lines.extend(self._ser(child, depth))
        return lines


def to_markdown(doc: Doc) -> str:
    """The body layer as markdown; furniture-layer nodes are left out."""
    return MarkdownSerializer(doc).serialize()
