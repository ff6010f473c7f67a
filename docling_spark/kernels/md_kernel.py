"""Markdown backend kernel (B1): markdown bytes -> Doc.

From-scratch block-level parser with the same *structural* mapping as
the reference's marko-based backend
(/root/reference/docling/backend/md_backend.py): ATX headings (level 1
-> title, level N -> heading N-1, matching the HTML backend's h1/hN
mapping), nested bullet/ordered lists (indent-based, ordered markers
preserved), fenced code blocks, GitHub tables (first row = column
header), blockquotes and paragraphs (lazy continuation joined with
spaces).

Embedded HTML blocks are re-routed through the HTML backend like the
reference does via marker strings (md_backend.py:35-37): consecutive
raw-HTML lines are parsed with HtmlExtractor and the resulting body
nodes grafted in place, so `<table>`/`<div>` islands inside markdown
become real tables/lists (mixed.md golden).

Inline runs are split marko-style (md_backend.py:207-380): emphasis /
code / links / backslash-escapes become separate nodes inside inline
groups, reproducing the reference's " ." join artifacts; documents
containing HTML blocks get the reference's whole-doc HTML round-trip
semantics (content before the first heading becomes furniture,
md_backend.py:550-581 + html_backend.py:272-275). All 8 reference md
fixtures are byte-identical.
"""

from __future__ import annotations

import copy as _copy
import re

from .doc_model import BODY, Doc, TableDataIR

_HTML_BLOCK_RE = re.compile(r"^\s*<(!--|/?[a-zA-Z][^>]*)>?")
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)


def _graft_doc(doc: Doc, sub: Doc, parent) -> None:
    """Append a sub-document's body tree under ``parent`` of ``doc``."""
    offset = len(doc.nodes)
    id_map = {n.node_id: n.node_id + offset for n in sub.nodes}
    for node in sub.nodes:
        clone = _copy.deepcopy(node)
        clone.node_id = id_map[node.node_id]
        clone.children = [id_map[c] for c in node.children]
        if clone.caption_id >= 0:
            clone.caption_id = id_map[clone.caption_id]
        if node.parent_id == -1:
            if parent is None:
                clone.parent_id = -1
                doc.body_children.append(clone.node_id)
            else:
                clone.parent_id = parent.node_id
                parent.children.append(clone.node_id)
        else:
            clone.parent_id = id_map[node.parent_id]
        doc.nodes.append(clone)

_HEADING_RE = re.compile(r"^(#{1,6})\s+(.*?)\s*#*\s*$|^(#{1,6})\s*$")
_INLINE_RE = re.compile(
    r"(\*\*\*[^*]+\*\*\*|\*\*[^*]+\*\*|\*[^*]+\*|~~[^~]+~~|`[^`]+`|\[[^\]]*\]\([^)]*\))"
)
_EMPH_RE = re.compile(r"^(\*{1,3})([^*]+)\1$")


def _classify_inline(tok: str):
    """-> (text, formatting, hyperlink, is_code) for one inline token."""
    from .doc_model import Formatting

    if tok.startswith("`"):
        return tok[1:-1], None, None, True
    if tok.startswith("~~"):
        return tok[2:-2], Formatting(strikethrough=True), None, False
    if tok.startswith("["):
        m = re.match(r"\[([^\]]*)\]\(([^)]*)\)", tok)
        inner, url = m.group(1), m.group(2)
        em = _EMPH_RE.match(inner)
        fmt = None
        if em:
            stars = len(em.group(1))
            fmt = Formatting(bold=stars >= 2, italic=stars in (1, 3))
            inner = em.group(2)
        return inner, fmt, url, False
    em = _EMPH_RE.match(tok)
    if em:
        stars = len(em.group(1))
        fmt = Formatting(bold=stars >= 2, italic=stars in (1, 3))
        inner = em.group(2)
        if inner.startswith("`") and inner.endswith("`"):
            return inner[1:-1], fmt, None, True
        return inner, fmt, None, False
    return tok, None, None, False


_ESCAPE_SPLIT_RE = re.compile(r"\\([\\`*_{}\[\]()#+.!-])")


def _inline_segments(text: str):
    """marko-style inline runs: [(text, fmt, link, is_code)] — plain
    text between tokens is stripped, reproducing the reference's
    " ." join artifacts (inline_and_formatting.md golden). A
    backslash escape splits the run like marko's AST does
    ("2\\. strange" -> "2" + ". strange" -> "2 . strange")."""
    text = _ESCAPE_SPLIT_RE.sub(lambda m: "\x00" + m.group(1), text)
    segs = []
    pos = 0

    def _push_text(chunk: str) -> None:
        for part in chunk.split("\x00"):
            part = part.strip()
            if part:
                segs.append((part, None, None, False))

    for m in _INLINE_RE.finditer(text):
        _push_text(text[pos:m.start()])
        segs.append(_classify_inline(m.group(0)))
        pos = m.end()
    _push_text(text[pos:])
    return segs
_BULLET_RE = re.compile(r"^(\s*)([-*+])(?:\s+(.*))?$")
_ORDERED_RE = re.compile(r"^(\s*)(\d+)[.)](?:\s+(.*))?$")
_FENCE_RE = re.compile(r"^\s*(```+|~~~+)\s*(\S*)\s*$")
_TABLE_SEP_RE = re.compile(r"^\s*\|?[\s:|-]+\|[\s:|-]*$")


def _split_table_row(line: str) -> list[str]:
    row = line.strip()
    if row.startswith("|"):
        row = row[1:]
    if row.endswith("|"):
        row = row[:-1]
    cells = []
    for c in re.split(r"(?<!\\)\|", row):
        segs = _inline_segments(c.strip())
        cells.append(" ".join(s[0] for s in segs))
    return cells


def parse_markdown(data: bytes, name: str = "doc") -> Doc:
    text = data.decode("utf-8", errors="replace")
    lines = text.split("\n")
    doc = Doc(name)

    # heading parent stack like the HTML backend (html_backend.py:584-638)
    parents: dict[int, object] = {0: None}

    def current_parent(level: int = 99):
        best = None
        for lvl in sorted(parents):
            if lvl < level and parents[lvl] is not None:
                best = parents[lvl]
        return best

    para: list[str] = []
    i = 0
    n = len(lines)

    def flush_para() -> None:
        if not para:
            return
        text = " ".join(s.strip() for s in para).strip()
        para.clear()
        if not text:
            return
        segs = _inline_segments(text)
        if len(segs) == 1:
            t, fmt, link, is_code = segs[0]
            if is_code:
                doc.add_code(text=t, formatting=fmt, parent=current_parent())
            else:
                doc.add_text(
                    text=t, formatting=fmt, hyperlink=link,
                    content_layer=BODY, parent=current_parent(),
                )
            return
        inline = doc.add_group("inline", parent=current_parent())
        for t, fmt, link, is_code in segs:
            if is_code:
                doc.add_code(text=t, formatting=fmt, parent=inline)
            else:
                doc.add_text(
                    text=t, formatting=fmt, hyperlink=link, parent=inline
                )

    # (indent, group_node, is_ordered, marker_char) for nested lists
    list_stack: list[list] = []

    saw_html_block = False
    while i < n:
        line = lines[i]
        stripped = line.strip()

        fence = _FENCE_RE.match(line)
        if fence:
            flush_para()
            list_stack.clear()
            marker = fence.group(1)[:3]
            body: list[str] = []
            i += 1
            while i < n and not lines[i].strip().startswith(marker):
                body.append(lines[i])
                i += 1
            i += 1  # skip closing fence
            code_text = "\n".join(body)
            if code_text.strip():  # empty fence emits nothing (blocks.md)
                doc.add_code(text=code_text, parent=current_parent())
            continue

        if not stripped:
            flush_para()
            # loose lists: a blank line does NOT close a list when the
            # next non-blank line is again a list item (nested.md golden)
            j = i + 1
            while j < n and not lines[j].strip():
                j += 1
            nxt = lines[j] if j < n else ""
            if not (_BULLET_RE.match(nxt) or _ORDERED_RE.match(nxt)):
                list_stack.clear()
            i += 1
            continue

        # indented code block (4+ spaces, outside lists)
        if (
            not list_stack
            and not para
            and line.startswith("    ")
            and not _BULLET_RE.match(line)
            and not _ORDERED_RE.match(line)
        ):
            body = []
            while i < n and (lines[i].startswith("    ") or not lines[i].strip()):
                if not lines[i].strip() and (
                    i + 1 >= n or not (lines[i + 1].startswith("    "))
                ):
                    break
                body.append(lines[i][4:])
                i += 1
            code = "\n".join(body).rstrip()
            if code:
                doc.add_code(text=code, parent=current_parent())
            continue

        if _HTML_BLOCK_RE.match(line) and not _TABLE_SEP_RE.match(line):
            flush_para()
            list_stack.clear()
            chunk = [line]
            i += 1
            if "<!--" in line and "-->" not in line:
                while i < n and "-->" not in lines[i]:
                    chunk.append(lines[i])
                    i += 1
                if i < n:
                    chunk.append(lines[i])
                    i += 1
            while i < n and lines[i].strip():
                chunk.append(lines[i])
                i += 1
            saw_html_block = True
            html = _COMMENT_RE.sub("", "\n".join(chunk)).strip()
            if html:
                from .html_kernel import HtmlExtractor

                sub = HtmlExtractor(original_url=None).convert(html.encode())
                _graft_doc(doc, sub, current_parent())
            continue

        m = _HEADING_RE.match(line)
        if m:
            flush_para()
            list_stack.clear()
            if m.group(1) is None or not m.group(2):
                i += 1  # empty heading: dropped (blocks.md golden)
                continue
            level = len(m.group(1))
            text_h = m.group(2)
            segs_h = _inline_segments(text_h)
            h_fmt = None
            h_children = None
            if len(segs_h) == 1 and not segs_h[0][3]:
                text_h, h_fmt, _hl, _c = segs_h[0]
            else:
                h_children = segs_h
                text_h = ""
            if level == 1:
                node = doc.add_title(text_h, formatting=h_fmt)
                parents = {0: None, 1: node}
            else:
                h_level = level - 1
                node = doc.add_heading(
                    text_h, level=h_level, formatting=h_fmt,
                    parent=current_parent(level)
                )
            if level > 1:
                parents = {k: v for k, v in parents.items() if k < level}
                parents[level] = node
            if h_children:
                inline_h = doc.add_group("inline", name="heading-runs", parent=node)
                for t, fmt, link, is_code in h_children:
                    if is_code:
                        doc.add_code(
                            text=t, formatting=fmt, parent=inline_h
                        )
                    else:
                        doc.add_text(
                            text=t, formatting=fmt, hyperlink=link, parent=inline_h
                        )
            i += 1
            continue

        bullet = _BULLET_RE.match(line)
        ordered = None if bullet else _ORDERED_RE.match(line)
        if bullet or ordered:
            flush_para()
            m2 = bullet or ordered
            indent = len(m2.group(1).replace("\t", "    "))
            is_ordered = ordered is not None
            item_text = (m2.group(3) or "").strip()
            if not item_text:
                i += 1  # empty list item: dropped (blocks.md golden)
                continue
            mchar = m2.group(2)
            while list_stack and list_stack[-1][0] > indent:
                list_stack.pop()
            # a change of list type OR bullet symbol at the same indent
            # starts a new group (nested.md golden: "-" -> "*")
            if list_stack and list_stack[-1][0] == indent and (
                list_stack[-1][2] != is_ordered
                or (not is_ordered and list_stack[-1][3] != mchar)
            ):
                list_stack.pop()
            if not list_stack or list_stack[-1][0] < indent:
                parent = list_stack[-1][1] if list_stack else current_parent()
                group = doc.add_list_group(parent=parent)
                list_stack.append([indent, group, is_ordered, mchar])
            group = list_stack[-1][1]
            marker = f"{m2.group(2)}." if is_ordered else "-"
            segs = _inline_segments(item_text)
            if len(segs) == 1:
                t, fmt, link, is_code = segs[0]
                doc.add_list_item(
                    t if not is_code else item_text,
                    enumerated=is_ordered,
                    marker=marker if is_ordered else "",
                    formatting=fmt,
                    hyperlink=link,
                    parent=group,
                )
            else:
                item = doc.add_list_item(
                    "", enumerated=is_ordered,
                    marker=marker if is_ordered else "", parent=group,
                )
                inline = doc.add_group("inline", parent=item)
                for t, fmt, link, is_code in segs:
                    if is_code:
                        doc.add_code(text=t, formatting=fmt, parent=inline)
                    else:
                        doc.add_text(
                            text=t, formatting=fmt, hyperlink=link, parent=inline
                        )
            i += 1
            continue

        if "|" in line and i + 1 < n and _TABLE_SEP_RE.match(lines[i + 1]):
            flush_para()
            list_stack.clear()
            header = _split_table_row(line)
            rows = [header]
            i += 2
            while i < n and "|" in lines[i] and lines[i].strip():
                rows.append(_split_table_row(lines[i]))
                i += 1
            doc.add_table(TableDataIR.from_rows(rows), parent=current_parent())
            continue

        if stripped.startswith(">"):
            para.append(stripped.lstrip("> "))
            i += 1
            continue

        para.append(stripped)
        i += 1

    flush_para()
    if saw_html_block:
        # reference round-trips html-bearing md through the HTML
        # backend (md_backend.py:550-581); there, everything before the
        # first heading is furniture (html_backend.py:272-275)
        from .doc_model import FURNITURE

        def mark_furniture(node_id: int) -> None:
            node = doc.nodes[node_id]
            node.content_layer = FURNITURE
            for c in node.children:
                mark_furniture(c)

        for nid in doc.body_children:
            if doc.nodes[nid].kind in ("title", "section_header"):
                break
            mark_furniture(nid)
    return doc
