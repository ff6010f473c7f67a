"""Chunkers over the Doc IR (E6 in SURVEY.md §2.6).

Reference semantics (docling_core chunkers, re-exported at
/root/reference/docling/chunking/__init__.py:7-13; behavior documented
in /root/reference/docs/concepts/chunking.md:62-90):

* ``HierarchicalChunker`` — one chunk per document item, with list
  groups merged into a single chunk; every chunk carries the heading
  path (title + enclosing section headers) as metadata.
* ``HybridChunker`` — tokenization-aware refinement: split chunks whose
  contextualized token count exceeds ``max_tokens``, then merge
  successive undersized peers that share the same heading path.

Tokens here = whitespace tokens (the reference defaults to an HF
tokenizer, which is not installed here).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .doc_model import (
    BODY,
    CODE,
    GROUP,
    G_LIST,
    LIST_ITEM,
    PICTURE,
    SECTION_HEADER,
    TABLE,
    TEXT,
    TITLE,
    Doc,
)
from .textout import table_text


@dataclass
class Chunk:
    text: str
    headings: list[str] = field(default_factory=list)
    kind: str = "text"  # text | list | table | code
    n_items: int = 1


def hierarchical_chunks(doc: Doc) -> list[Chunk]:
    chunks: list[Chunk] = []
    headings: list[str] = []
    level_stack: list[tuple[int, str]] = []  # (level, text)

    def walk(node_id: int) -> None:
        nonlocal headings
        node = doc.nodes[node_id]
        if node.content_layer != BODY:
            return
        if node.kind == TITLE:
            level_stack.clear()
            level_stack.append((0, node.text))
        elif node.kind == SECTION_HEADER:
            while level_stack and level_stack[-1][0] >= node.level:
                level_stack.pop()
            level_stack.append((node.level, node.text))
        elif node.kind == GROUP and node.group_label == G_LIST:
            # Collect item text recursively: nested list groups live under
            # LIST_ITEM nodes, and their items belong to the same chunk
            # (reference merges the whole list subtree into one chunk).
            items: list[str] = []
            others: list[int] = []  # non-list content nested under items

            def gather(nid: int) -> None:
                n = doc.nodes[nid]
                if n.kind == LIST_ITEM:
                    if n.text:
                        items.append(n.text)
                    for c in n.children:
                        gather(c)
                elif n.kind == GROUP:
                    for c in n.children:
                        gather(c)
                else:
                    others.append(nid)

            for c in node.children:
                gather(c)
            if items:
                chunks.append(
                    Chunk(
                        text="\n".join(items),
                        headings=[t for _, t in level_stack],
                        kind="list",
                        n_items=len(items),
                    )
                )
            for nid in others:
                walk(nid)
            return
        elif node.kind == TABLE:
            text = table_text(node.table) if node.table is not None else ""
            if text:
                chunks.append(
                    Chunk(text=text, headings=[t for _, t in level_stack], kind="table")
                )
        elif node.kind == CODE:
            if node.text:
                chunks.append(
                    Chunk(text=node.text, headings=[t for _, t in level_stack], kind="code")
                )
        elif node.kind == PICTURE:
            pass
        elif node.kind in (TEXT, "paragraph") and node.text:
            chunks.append(
                Chunk(text=node.text, headings=[t for _, t in level_stack])
            )
        for child in node.children:
            walk(child)

    for child in doc.body_children:
        walk(child)
    return chunks


def count_hierarchical_chunks(doc: Doc) -> int:
    """``len(hierarchical_chunks(doc))`` without building the chunks:
    the same walk over the same nodes, counting where the chunker
    appends, with no chunk text, heading path or ``table_text``.

    A table makes a chunk when its ``table_text`` is not empty: always
    for two or more grid rows (the rows are joined by a newline), so
    only a one-row table is rendered to tell. The walk is iterative;
    visiting order does not change a count."""
    nodes = doc.nodes
    n = 0
    todo = list(doc.body_children)
    while todo:
        node = nodes[todo.pop()]
        if node.content_layer != BODY:
            continue
        kind = node.kind
        if kind == GROUP and node.group_label == G_LIST:
            # one chunk for the list's item texts (nested lists
            # included); other content under its items is walked
            has_items = False
            sub = list(node.children)
            while sub:
                nid = sub.pop()
                item = nodes[nid]
                if item.kind == LIST_ITEM:
                    has_items = has_items or bool(item.text)
                    sub.extend(item.children)
                elif item.kind == GROUP:
                    sub.extend(item.children)
                else:
                    todo.append(nid)
            n += has_items
            continue
        if kind == TABLE:
            table = node.table
            if table is not None and (table.num_rows > 1 or table_text(table)):
                n += 1
        elif kind == CODE or kind == TEXT or kind == "paragraph":
            n += bool(node.text)
        todo.extend(node.children)
    return n


def _ws_tokens(text: str) -> int:
    return len(text.split())


def hybrid_chunks(doc: Doc, max_tokens: int = 128) -> list[Chunk]:
    """Hierarchical pass, then split-oversized + merge-undersized-peers
    (chunking.md:75-86). Tokens are whitespace-separated words, both in
    the budgets and in the split windows."""
    base = hierarchical_chunks(doc)
    out: list[Chunk] = []
    for ch in base:
        ctx = _ws_tokens(" ".join(ch.headings))
        budget = max(max_tokens - ctx, 8)
        if _ws_tokens(ch.text) <= budget:
            out.append(ch)
            continue
        # split on whitespace token windows (doc-structure preserving
        # enough for list items: split on lines first, then windows)
        parts: list[str] = []
        for line in ch.text.split("\n"):
            words = line.split()
            if not words:
                continue
            for i in range(0, len(words), budget):
                parts.append(" ".join(words[i : i + budget]))
        for p in parts:
            out.append(Chunk(text=p, headings=ch.headings, kind=ch.kind))

    merged: list[Chunk] = []
    for ch in out:
        if (
            merged
            and merged[-1].headings == ch.headings
            and merged[-1].kind == ch.kind == "text"
            and _ws_tokens(merged[-1].text) + _ws_tokens(ch.text)
            + _ws_tokens(" ".join(ch.headings))
            <= max_tokens
        ):
            prev = merged[-1]
            merged[-1] = Chunk(
                text=prev.text + " " + ch.text,
                headings=prev.headings,
                kind="text",
                n_items=prev.n_items + 1,
            )
        else:
            merged.append(ch)
    return merged


def contextualize(chunk: Chunk) -> str:
    """Embedding-ready text: heading path + body (chunking.md:88-90)."""
    prefix = "\n".join(chunk.headings)
    return f"{prefix}\n{chunk.text}" if prefix else chunk.text
