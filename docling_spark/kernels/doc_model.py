"""Document IR: a flattened node pool with tree structure.

Mirrors the observable schema of the reference's ``DoclingDocument``
(docling-core dependency; observed serialized form in
/root/reference/tests/data/groundtruth/docling_v2/*.html.json,
``schema_name: "DoclingDocument", version: "1.6.0"``): node pools with
``$ref`` parent/child pointers, two content layers (body/furniture),
labels, formatting, hyperlinks, markers and table payloads.

The pool layout is Spark-friendly by construction: each node is a flat
struct, the tree is (node_id, parent_id, child position). A document is
one value of ``ARRAY<STRUCT<...>>`` inside a DataFrame cell.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from typing import Optional

# content layers (reference: docling_core ContentLayer)
BODY = "body"
FURNITURE = "furniture"
INVISIBLE = "invisible"  # hidden sheets/slides (docling ContentLayer)

# node labels
TITLE = "title"
SECTION_HEADER = "section_header"
TEXT = "text"
PARAGRAPH = "paragraph"  # the reference's DocItemLabel.PARAGRAPH (USPTO)
CODE = "code"
CAPTION = "caption"
LIST_ITEM = "list_item"
PICTURE = "picture"
TABLE = "table"
GROUP = "group"

# group kinds (reference: docling_core GroupLabel)
G_SECTION = "section"
G_INLINE = "inline"
G_LIST = "list"

# script values (reference: html_backend.py:71-72 Script.SUB/SUPER)
SCRIPT_BASELINE = "baseline"
SCRIPT_SUB = "sub"
SCRIPT_SUPER = "super"


@dataclass(frozen=True)
class Formatting:
    """Text formatting flags (reference: docling_core Formatting used at
    html_backend.py:59-74)."""

    bold: bool = False
    italic: bool = False
    underline: bool = False
    strikethrough: bool = False
    script: str = SCRIPT_BASELINE


@dataclass
class TableCellData:
    """One table cell (reference: html_backend.py:1088-1099)."""

    text: str
    row_span: int = 1
    col_span: int = 1
    start_row: int = 0
    end_row: int = 1
    start_col: int = 0
    end_col: int = 1
    column_header: bool = False
    row_header: bool = False


@dataclass
class TableDataIR:
    """Reference: TableData(num_rows, num_cols, table_cells)."""

    num_rows: int
    num_cols: int
    cells: list[TableCellData] = field(default_factory=list)

    @classmethod
    def from_rows(cls, rows: list[list[str]]) -> "TableDataIR":
        """A grid of 1x1 cells, row 0 the column header (csv/md/adoc)."""
        cells = [
            TableCellData(
                text=t,
                start_row=ri,
                end_row=ri + 1,
                start_col=ci,
                end_col=ci + 1,
                column_header=ri == 0,
            )
            for ri, row in enumerate(rows)
            for ci, t in enumerate(row)
        ]
        return cls(len(rows), max(len(r) for r in rows), cells)

    def grid(self) -> list[list[str]]:
        """Occupancy grid of cell texts (empty string where no cell).

        A cell fills its columns with one slice assignment per covered
        row, clipped to ``num_cols`` and exactly as long as the texts
        assigned: a slice assignment of any other length would insert
        or delete columns. A cell that starts at a negative column (a
        negative span in a hostile document) is written column by
        column, each index counting from the row's end. Row and column
        ranges are built with ``range`` in the per-cell order, so sizes
        that are not integers (a malformed JSON document) raise the
        same error at the same point."""
        num_rows, num_cols = self.num_rows, self.num_cols
        g = [[""] * operator.index(num_cols) for _ in range(num_rows)]
        for c in self.cells:
            rows = range(c.start_row, min(c.end_row, num_rows))
            if not rows:
                continue
            cols = range(c.start_col, min(c.end_col, num_cols))
            if not cols:
                continue
            text = c.text
            if cols.start < 0:
                for r in rows:
                    row = g[r]
                    for k in cols:
                        row[k] = text
                continue
            fill = [text] * len(cols)
            for r in rows:
                g[r][cols.start : cols.stop] = fill
        return g


@dataclass
class DocNode:
    node_id: int
    kind: str  # one of the labels above
    parent_id: int  # -1 == body root
    content_layer: str = BODY
    text: str = ""
    orig: str = ""
    level: int = 0  # section header level
    enumerated: bool = False
    marker: str = ""
    formatting: Optional[Formatting] = None
    hyperlink: Optional[str] = None
    group_label: str = ""  # for kind == GROUP
    name: str = ""
    table: Optional[TableDataIR] = None
    caption_id: int = -1  # for pictures: node_id of caption item
    children: list[int] = field(default_factory=list)
    # provenance: list of dicts {page_no, bbox:{l,t,r,b,coord_origin},
    # charspan:[a,b]} — docling ProvenanceItem shape (docjson emits it
    # verbatim); populated by paged/placed backends (xlsx, pptx, pdf)
    prov: Optional[list] = None
    # opaque payload metadata (e.g. picture image dict) emitted verbatim
    image: Optional[dict] = None


class Doc:
    """Node pool + body tree. ``parent=None`` attaches to the body root,
    matching the reference where items added without parent become body
    children (html_backend.py:888-895 caption items)."""

    def __init__(self, name: str = "doc"):
        self.name = name
        self.nodes: list[DocNode] = []
        self.body_children: list[int] = []
        # page_no -> (width, height) for paged sources (docjson "pages")
        self.pages: dict[int, tuple] = {}

    # -- internals ------------------------------------------------------
    def _add(self, node: DocNode, parent: Optional[DocNode]) -> DocNode:
        node.node_id = len(self.nodes)
        self.nodes.append(node)
        if parent is None:
            node.parent_id = -1
            self.body_children.append(node.node_id)
        else:
            node.parent_id = parent.node_id
            parent.children.append(node.node_id)
        return node

    def children_of(self, node: Optional[DocNode]) -> list[DocNode]:
        ids = self.body_children if node is None else node.children
        return [self.nodes[i] for i in ids]

    # -- reference add_* API (docling_core DoclingDocument) ---------------
    def add_title(
        self,
        text: str,
        orig: str = "",
        content_layer: str = BODY,
        formatting=None,
        hyperlink=None,
        parent=None,
    ) -> DocNode:
        return self._add(
            DocNode(
                0, TITLE, -1, content_layer, text=text, orig=orig or text,
                formatting=formatting, hyperlink=hyperlink,
            ),
            parent,
        )

    def add_heading(
        self,
        text: str,
        orig: str = "",
        level: int = 1,
        content_layer: str = BODY,
        formatting=None,
        hyperlink=None,
        parent=None,
    ) -> DocNode:
        return self._add(
            DocNode(
                0, SECTION_HEADER, -1, content_layer, text=text,
                orig=orig or text, level=level, formatting=formatting,
                hyperlink=hyperlink,
            ),
            parent,
        )

    def add_text(
        self,
        label: str = TEXT,
        text: str = "",
        orig: str = "",
        content_layer: str = BODY,
        formatting=None,
        hyperlink=None,
        parent=None,
    ) -> DocNode:
        return self._add(
            DocNode(
                0, label, -1, content_layer, text=text, orig=orig or text,
                formatting=formatting, hyperlink=hyperlink,
            ),
            parent,
        )

    def add_code(
        self,
        text: str = "",
        content_layer: str = BODY,
        formatting=None,
        hyperlink=None,
        parent=None,
    ) -> DocNode:
        return self._add(
            DocNode(
                0, CODE, -1, content_layer, text=text, orig=text,
                formatting=formatting, hyperlink=hyperlink,
            ),
            parent,
        )

    def add_group(
        self,
        label: str,
        name: str = "",
        content_layer: str = BODY,
        parent=None,
    ) -> DocNode:
        return self._add(
            DocNode(0, GROUP, -1, content_layer, group_label=label, name=name),
            parent,
        )

    def add_list_group(self, name: str = "", content_layer: str = BODY, parent=None):
        return self.add_group(G_LIST, name=name, content_layer=content_layer, parent=parent)

    def add_list_item(
        self,
        text: str,
        enumerated: bool = False,
        marker: str = "",
        orig: str = "",
        content_layer: str = BODY,
        formatting=None,
        hyperlink=None,
        parent=None,
    ) -> DocNode:
        return self._add(
            DocNode(
                0, LIST_ITEM, -1, content_layer, text=text, orig=orig or text,
                enumerated=enumerated, marker=marker, formatting=formatting,
                hyperlink=hyperlink,
            ),
            parent,
        )

    def add_table(self, data: TableDataIR, content_layer: str = BODY, parent=None):
        return self._add(
            DocNode(0, TABLE, -1, content_layer, table=data), parent
        )

    def add_picture(self, caption=None, content_layer: str = BODY, parent=None,
                    image: Optional[dict] = None):
        node = DocNode(0, PICTURE, -1, content_layer)
        if caption is not None:
            node.caption_id = caption.node_id
        node.image = image
        return self._add(node, parent)
