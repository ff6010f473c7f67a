"""DoclingDocument JSON interchange (E4 export + B10 load).

Serializes the Doc IR to the reference's versioned node-pool JSON
(schema pinned by /root/reference/tests/data/groundtruth/docling_v2/
*.html.json: ``schema_name "DoclingDocument", version "1.6.0"``,
pools ``groups/texts/pictures/tables`` with ``#/pool/N`` $refs,
``origin.binary_hash`` = first 8 bytes of sha256(file bytes) as a
big-endian uint64 — derived empirically from the fixtures). The golden
test asserts **structural equality** (json ==) against every HTML
fixture's groundtruth.

``doc_from_dict`` is the B10 "Docling JSON backend"
(/root/reference/docling/backend/json/docling_json_backend.py): load a
stored document back into the IR, from which every serializer
(markdown, text, doctags, chunks) works unchanged.
"""

from __future__ import annotations

import hashlib

from .doc_model import (
    CAPTION,
    CODE,
    GROUP,
    LIST_ITEM,
    PARAGRAPH,
    PICTURE,
    SECTION_HEADER,
    TABLE,
    TEXT,
    TITLE,
    Doc,
    DocNode,
    Formatting,
    TableCellData,
    TableDataIR,
)

SCHEMA_NAME = "DoclingDocument"
VERSION = "1.6.0"


def binary_hash(data: bytes) -> int:
    # fixtures pin this to sha256(bytes) mod 2^64, i.e. the LAST 8
    # digest bytes big-endian (verified across all 18 HTML goldens)
    return int.from_bytes(hashlib.sha256(data).digest()[-8:], "big")


def _pool_of(node: DocNode) -> str:
    if node.kind == GROUP:
        return "groups"
    if node.kind == TABLE:
        return "tables"
    if node.kind == PICTURE:
        return "pictures"
    return "texts"


def _cell_dict(c: TableCellData) -> dict:
    return {
        "row_span": c.row_span,
        "col_span": c.col_span,
        "start_row_offset_idx": c.start_row,
        "end_row_offset_idx": c.end_row,
        "start_col_offset_idx": c.start_col,
        "end_col_offset_idx": c.end_col,
        "text": c.text,
        "column_header": c.column_header,
        "row_header": c.row_header,
        "row_section": False,
    }


def _table_data_dict(t: TableDataIR) -> dict:
    cells = [_cell_dict(c) for c in t.cells]
    # grid: per position, the covering cell object (docling_core
    # TableData.grid); uncovered positions get an empty 1x1 cell
    grid = []
    for r in range(t.num_rows):
        row = []
        for k in range(t.num_cols):
            row.append(None)
        grid.append(row)
    for c, cd in zip(t.cells, cells):
        for r in range(c.start_row, min(c.end_row, t.num_rows)):
            for k in range(c.start_col, min(c.end_col, t.num_cols)):
                grid[r][k] = cd
    for r in range(t.num_rows):
        for k in range(t.num_cols):
            if grid[r][k] is None:
                grid[r][k] = {
                    "row_span": 1,
                    "col_span": 1,
                    "start_row_offset_idx": r,
                    "end_row_offset_idx": r + 1,
                    "start_col_offset_idx": k,
                    "end_col_offset_idx": k + 1,
                    "text": "",
                    "column_header": False,
                    "row_header": False,
                    "row_section": False,
                }
    return {
        "table_cells": cells,
        "num_rows": t.num_rows,
        "num_cols": t.num_cols,
        "grid": grid,
    }


def export_to_dict(
    doc: Doc, filename: str = "doc.html", raw: bytes = b"", mimetype: str = "text/html"
) -> dict:
    # pool index per node (creation order == node_id order)
    pool_idx: dict[int, tuple[str, int]] = {}
    counters = {"texts": 0, "groups": 0, "tables": 0, "pictures": 0}
    for node in doc.nodes:
        pool = _pool_of(node)
        pool_idx[node.node_id] = (pool, counters[pool])
        counters[pool] += 1

    def ref(node_id: int) -> dict:
        if node_id == -1:
            return {"$ref": "#/body"}
        pool, i = pool_idx[node_id]
        return {"$ref": f"#/{pool}/{i}"}

    def self_ref(node: DocNode) -> str:
        pool, i = pool_idx[node.node_id]
        return f"#/{pool}/{i}"

    pools: dict[str, list] = {"texts": [], "groups": [], "tables": [], "pictures": []}
    for node in doc.nodes:
        base = {
            "self_ref": self_ref(node),
            "parent": ref(node.parent_id),
            "children": [ref(c) for c in node.children],
            "content_layer": node.content_layer,
        }
        if node.prov is not None:
            base["prov"] = node.prov
        if node.kind == GROUP:
            base.pop("prov", None)
            base["name"] = node.name or "group"
            base["label"] = node.group_label or "unspecified"
            pools["groups"].append(base)
        elif node.kind == TABLE:
            base["label"] = "table"
            base.setdefault("prov", [])
            base["captions"] = [ref(node.caption_id)] if node.caption_id >= 0 else []
            base["references"] = []
            base["footnotes"] = []
            base["data"] = _table_data_dict(node.table or TableDataIR(0, 0, []))
            base["annotations"] = []
            pools["tables"].append(base)
        elif node.kind == PICTURE:
            base["label"] = "picture"
            base.setdefault("prov", [])
            if node.image is not None:
                base["image"] = node.image
            base["captions"] = [ref(node.caption_id)] if node.caption_id >= 0 else []
            base["references"] = []
            base["footnotes"] = []
            base["annotations"] = []
            pools["pictures"].append(base)
        else:
            base["label"] = node.kind
            base.setdefault("prov", [])
            # verbatim: orig is fixed at node creation (docling TextItem
            # semantics) — a claim built by appending to an empty item
            # keeps orig="" (pinned by the APS USPTO json groundtruth)
            base["orig"] = node.orig
            base["text"] = node.text
            if node.kind == SECTION_HEADER:
                base["level"] = node.level
            if node.kind == LIST_ITEM:
                base["enumerated"] = node.enumerated
                base["marker"] = node.marker
            if node.kind == CODE:
                base["captions"] = []
                base["references"] = []
                base["footnotes"] = []
                base["code_language"] = "unknown"
            if node.formatting is not None:
                f = node.formatting
                base["formatting"] = {
                    "bold": f.bold,
                    "italic": f.italic,
                    "underline": f.underline,
                    "strikethrough": f.strikethrough,
                    "script": f.script,
                }
            if node.hyperlink is not None:
                base["hyperlink"] = node.hyperlink
            pools["texts"].append(base)

    return {
        "schema_name": SCHEMA_NAME,
        "version": VERSION,
        "name": doc.name,
        "origin": {
            "mimetype": mimetype,
            "binary_hash": binary_hash(raw),
            "filename": filename,
        },
        "furniture": {
            "self_ref": "#/furniture",
            "children": [],
            "content_layer": "furniture",
            "name": "_root_",
            "label": "unspecified",
        },
        "body": {
            "self_ref": "#/body",
            "children": [ref(c) for c in doc.body_children],
            "content_layer": "body",
            "name": "_root_",
            "label": "unspecified",
        },
        "groups": pools["groups"],
        "texts": pools["texts"],
        "pictures": pools["pictures"],
        "tables": pools["tables"],
        "key_value_items": [],
        "form_items": [],
        "pages": {
            str(no): {
                "size": {"width": float(w), "height": float(h)},
                "page_no": no,
            }
            for no, (w, h) in sorted(getattr(doc, "pages", {}).items())
        },
    }


# --------------------------------------------------------------- loading


def doc_from_dict(d: dict) -> Doc:
    """B10: rebuild the Doc IR from a DoclingDocument dict."""
    doc = Doc(d.get("name", "doc"))
    by_ref: dict[str, DocNode] = {}

    def make_node(item: dict, kind: str) -> DocNode:
        fmt = None
        if "formatting" in item and item["formatting"] is not None:
            f = item["formatting"]
            fmt = Formatting(
                bold=f.get("bold", False),
                italic=f.get("italic", False),
                underline=f.get("underline", False),
                strikethrough=f.get("strikethrough", False),
                script=f.get("script", "baseline"),
            )
        node = DocNode(
            0,
            kind,
            -1,
            item.get("content_layer", "body"),
            text=item.get("text", ""),
            orig=item.get("orig", ""),
            level=item.get("level", 0),
            enumerated=item.get("enumerated", False),
            marker=item.get("marker", ""),
            formatting=fmt,
            hyperlink=item.get("hyperlink"),
            group_label=item.get("label", "") if "name" in item else "",
            name=item.get("name", "") if "name" in item else "",
        )
        if kind == TABLE and "data" in item:
            data = item["data"]
            node.table = TableDataIR(
                data.get("num_rows", 0),
                data.get("num_cols", 0),
                [
                    TableCellData(
                        text=c.get("text", ""),
                        row_span=c.get("row_span", 1),
                        col_span=c.get("col_span", 1),
                        start_row=c.get("start_row_offset_idx", 0),
                        end_row=c.get("end_row_offset_idx", 1),
                        start_col=c.get("start_col_offset_idx", 0),
                        end_col=c.get("end_col_offset_idx", 1),
                        column_header=c.get("column_header", False),
                        row_header=c.get("row_header", False),
                    )
                    for c in data.get("table_cells", [])
                ],
            )
        return node

    kind_of_label = {
        "title": TITLE,
        "section_header": SECTION_HEADER,
        "text": TEXT,
        "paragraph": PARAGRAPH,
        "caption": CAPTION,
        "code": CODE,
        "list_item": LIST_ITEM,
        "table": TABLE,
        "picture": PICTURE,
    }
    for pool, default_kind in (
        ("texts", TEXT),
        ("groups", GROUP),
        ("tables", TABLE),
        ("pictures", PICTURE),
    ):
        for item in d.get(pool, []):
            kind = (
                GROUP
                if pool == "groups"
                else kind_of_label.get(item.get("label", ""), default_kind)
            )
            node = make_node(item, kind)
            node.node_id = len(doc.nodes)
            doc.nodes.append(node)
            by_ref[item["self_ref"]] = node

    # second pass: wire tree + captions
    def resolve(ref_d: dict) -> int:
        r = ref_d["$ref"]
        return -1 if r == "#/body" else by_ref[r].node_id

    for pool in ("texts", "groups", "tables", "pictures"):
        for item in d.get(pool, []):
            node = by_ref[item["self_ref"]]
            node.parent_id = resolve(item.get("parent", {"$ref": "#/body"}))
            node.children = [resolve(c) for c in item.get("children", [])]
            if item.get("prov"):
                node.prov = item["prov"]
            if pool == "pictures" and item.get("image") is not None:
                node.image = item["image"]
            if pool in ("pictures", "tables") and item.get("captions"):
                node.caption_id = resolve(item["captions"][0])
    for c in d.get("body", {}).get("children", []):
        doc.body_children.append(resolve(c))
    for no, page in (d.get("pages") or {}).items():
        size = page.get("size", {})
        doc.pages[int(no)] = (size.get("width", 0.0), size.get("height", 0.0))
    return doc
