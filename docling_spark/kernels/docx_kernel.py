"""DOCX backend kernel (B4): .docx bytes -> Doc.

From-scratch OOXML WordprocessingML reader on stdlib zipfile +
xml.etree — the reference uses python-docx
(/root/reference/docling/backend/msword_backend.py, 1282 LoC), which is
not available here. Fixture-driven parity with the reference's md
goldens (tests/data/groundtruth/docling_v2/*.docx.md):

* style-based heading detection (``Heading N``/``Title`` pStyle,
  msword_backend.py:422-469); numbered headings get a ``lvlText``
  prefix computed from numbering.xml counters ("1 ", "1.1 ");
* per-run formatting split into inline groups when a paragraph mixes
  formats/hyperlinks (msword_backend.py:471-483), adjacent same-format
  runs merged;
* hyperlink targets reproduce the reference's Path-normalization quirk
  ("https://x" -> "https:/x" in the goldens);
* numbering.xml drives list vs numbered-list (numFmt bullet/decimal);
  numId=0 paragraphs are NOT list items; nesting via ilvl
  (msword_backend.py:301-335);
* tables with gridSpan / vMerge (msword_backend.py:1171-1243);
  single-cell tables are containers: their content is promoted to
  normal block flow (tablecell.docx golden);
* inline images / drawings -> picture items; textbox content extracted
  as block text, mc:Fallback trees skipped (no double extraction).

Out of scope (documented): OMML equation -> LaTeX (docx/latex/omml.py,
458 LoC — equations render as their plain text), EMF image decode.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
import zipfile
from io import BytesIO
from pathlib import PurePosixPath

from .doc_model import (
    Doc,
    Formatting,
    TableCellData,
    TableDataIR,
)
from .omml import omml_to_latex

W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
R_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"
MC = "{http://schemas.openxmlformats.org/markup-compatibility/2006}"
M_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/math}"
A_NS = "{http://schemas.openxmlformats.org/drawingml/2006/main}"


def _image_rid(el):
    """r:embed of the first image blip below ``el``, or None when the
    drawing embeds no image (decorative shapes are not pictures —
    textbox golden)."""
    blip = next(el.iter(f"{A_NS}blip"), None)
    if blip is None:
        return None
    return blip.get(f"{R_NS}embed") or blip.get(f"{R_NS}link") or ""

_HEADING_RE = re.compile(r"^Heading(\d+)$", re.IGNORECASE)


class DocxError(Exception):
    pass


def _norm_link(target: str | None) -> str | None:
    if not target:
        return None
    # reference quirk: targets are passed through a Path, collapsing
    # "//" (groundtruth unit_test_formatting.docx.md: "https:/github...")
    return str(PurePosixPath(target))


# ------------------------------------------------------------ numbering


def _load_numbering(z: zipfile.ZipFile) -> dict[tuple[str, int], tuple[str, str]]:
    """(numId, ilvl) -> (numFmt, lvlText)."""
    try:
        root = ET.fromstring(z.read("word/numbering.xml"))
    except KeyError:
        return {}
    abstract: dict[str, dict[int, tuple[str, str]]] = {}
    for an in root.findall(f"{W}abstractNum"):
        aid = an.get(f"{W}abstractNumId")
        levels = {}
        for lvl in an.findall(f"{W}lvl"):
            i = int(lvl.get(f"{W}ilvl", "0"))
            fmt_el = lvl.find(f"{W}numFmt")
            txt_el = lvl.find(f"{W}lvlText")
            levels[i] = (
                fmt_el.get(f"{W}val", "bullet") if fmt_el is not None else "bullet",
                txt_el.get(f"{W}val", "") if txt_el is not None else "",
            )
        abstract[aid] = levels
    out: dict[tuple[str, int], tuple[str, str]] = {}
    for num in root.findall(f"{W}num"):
        nid = num.get(f"{W}numId")
        ref = num.find(f"{W}abstractNumId")
        if ref is None:
            continue
        for i, v in abstract.get(ref.get(f"{W}val"), {}).items():
            out[(nid, i)] = v
    return out


# ------------------------------------------------------------ run model


class _Seg:
    __slots__ = ("text", "fmt", "link", "is_math")

    def __init__(self, text, fmt, link, is_math=False):
        self.text = text
        self.fmt = fmt
        self.link = link
        self.is_math = is_math

    def key(self):
        return (self.fmt, self.link, self.is_math)


def _run_format(rpr) -> Formatting:
    """Every run carries a Formatting (all-False when unstyled) — the
    reference builds one per run from python-docx flags, and the json
    groundtruth pins the explicit all-false dicts on plain paragraphs
    (titles/headings are added without formatting and stay null)."""
    if rpr is None:
        return Formatting()

    def on(tag: str) -> bool:
        el = rpr.find(f"{W}{tag}")
        if el is None:
            return False
        val = el.get(f"{W}val")
        return val not in ("0", "false", "none")

    return Formatting(
        bold=on("b"), italic=on("i"), underline=on("u"), strikethrough=on("strike")
    )


def _collect_segments(p, rels, drawings: list, textboxes: list) -> list[_Seg]:
    """Flatten a paragraph into formatted text segments; records
    drawings and textbox paragraph elements encountered."""
    segs: list[_Seg] = []

    def walk(el, link):
        for child in el:
            tag = child.tag
            if tag == f"{MC}AlternateContent":
                choice = child.find(f"{MC}Choice")
                if choice is not None:
                    walk(choice, link)
                continue  # never descend into mc:Fallback
            if tag == f"{W}hyperlink":
                target = rels.get(child.get(f"{R_NS}id", ""), None) or child.get(
                    f"{W}anchor"
                )
                walk(child, _norm_link(target))
            elif tag == f"{W}r":
                parts: list[str] = []
                for sub in child:
                    if sub.tag == f"{W}t":
                        parts.append(sub.text or "")
                    elif sub.tag == f"{W}tab":
                        parts.append("\t")
                    elif sub.tag == f"{W}br":
                        parts.append("\n")
                    elif sub.tag in (f"{W}drawing", f"{W}pict", f"{W}object"):
                        txbx = list(sub.iter(f"{W}txbxContent"))
                        if txbx:
                            textboxes.extend(txbx)
                        else:
                            rid = _image_rid(sub)
                            if rid is not None:
                                drawings.append(rid)
                    elif sub.tag == f"{MC}AlternateContent":
                        choice = sub.find(f"{MC}Choice")
                        handled = False
                        if choice is not None:
                            txbx = list(choice.iter(f"{W}txbxContent"))
                            if txbx:
                                textboxes.extend(txbx)
                                handled = True
                        if not handled and choice is not None:
                            rid = _image_rid(choice)
                            if rid is not None:
                                drawings.append(rid)
                text = "".join(parts)
                if text:
                    segs.append(_Seg(text, _run_format(child.find(f"{W}rPr")), link))
            elif tag == f"{M_NS}oMathPara":
                for om in child.findall(f"{M_NS}oMath"):
                    latex = omml_to_latex(om).strip()
                    if latex:
                        segs.append(_Seg(latex, None, link, is_math=True))
            elif tag == f"{M_NS}oMath":
                latex = omml_to_latex(child).strip()
                if latex:
                    segs.append(_Seg(latex, None, link, is_math=True))
            elif tag in (f"{W}pPr",):
                continue
            else:
                walk(child, link)

    walk(p, None)
    # merge adjacent segments with identical formatting + link
    merged: list[_Seg] = []
    for s in segs:
        if merged and merged[-1].key() == s.key() and not s.is_math:
            merged[-1].text += s.text
        else:
            merged.append(_Seg(s.text, s.fmt, s.link, s.is_math))
    return merged


# --------------------------------------------------------------- tables


def _cell_text(tc, rels) -> str:
    parts = []
    for p in tc.findall(f"{W}p"):
        segs = _collect_segments(p, rels, [], [])
        t = "".join(
            f"${s.text}$" if s.is_math else s.text for s in segs
        ).strip()
        if t:
            parts.append(t)
    return " ".join(parts)


def _parse_table(tbl, rels) -> TableDataIR:
    rows = tbl.findall(f"{W}tr")
    cells: list[TableCellData] = []
    open_vmerge: dict[int, TableCellData] = {}
    n_cols = 0
    for ri, tr in enumerate(rows):
        ci = 0
        for tc in tr.findall(f"{W}tc"):
            tcpr = tc.find(f"{W}tcPr")
            span = 1
            vmerge = None
            if tcpr is not None:
                gs = tcpr.find(f"{W}gridSpan")
                if gs is not None:
                    span = int(gs.get(f"{W}val", "1"))
                vm = tcpr.find(f"{W}vMerge")
                if vm is not None:
                    vmerge = vm.get(f"{W}val", "continue")
            if vmerge == "continue" and ci in open_vmerge:
                open_vmerge[ci].end_row = ri + 1
                open_vmerge[ci].row_span += 1
                ci += open_vmerge[ci].col_span
                continue
            cell = TableCellData(
                text=_cell_text(tc, rels),
                row_span=1,
                col_span=span,
                start_row=ri,
                end_row=ri + 1,
                start_col=ci,
                end_col=ci + span,
                column_header=ri == 0,
            )
            if vmerge == "restart":
                open_vmerge[ci] = cell
            cells.append(cell)
            ci += span
        n_cols = max(n_cols, ci)
    return TableDataIR(len(rows), n_cols, cells)


# ----------------------------------------------------------------- main


def parse_docx(data: bytes, name: str = "doc") -> Doc:
    try:
        z = zipfile.ZipFile(BytesIO(data))
        xml = z.read("word/document.xml")
    except (zipfile.BadZipFile, KeyError) as e:
        raise DocxError(f"not a docx: {e}") from e
    try:
        root = ET.fromstring(xml)
    except ET.ParseError as e:
        raise DocxError(f"bad xml: {e}") from e
    rels = _load_rels(z)

    def _media_payload(rid):
        """ImageRef dict for an embedded image relationship. The docx
        reference hardcodes dpi=72 (msword_backend.py:1273) regardless
        of the PNG pHYs chunk."""
        target = rels.get(rid or "", "")
        if not target:
            return None
        path = target if target.startswith("word/") else f"word/{target}"
        try:
            from .image_kernel import image_ref_payload

            payload = image_ref_payload(path, z.read(path))
            if payload is not None:
                payload["dpi"] = 72
            return payload
        except KeyError:
            return None
    numbering = _load_numbering(z)
    style_numpr = _load_style_numbering(z)
    body = root.find(f"{W}body")
    if body is None:
        raise DocxError("no w:body")

    doc = Doc(name)
    parent_of = {c: par for par in root.iter() for c in par}
    # pre-pass: last paragraph (by element identity) referencing each image
    last_para_for_rid: dict[str, int] = {}
    for p_el in root.iter(f"{W}p"):
        for blip in p_el.iter(f"{A_NS}blip"):
            rid = blip.get(f"{R_NS}embed") or blip.get(f"{R_NS}link") or ""
            last_para_for_rid[rid] = id(p_el)
    emitted_rids: set[str] = set()
    # ---- reference structure model (msword_backend.py:60-70, 138-170):
    # fixed parent slots, _get_level = first empty slot, title at slot 0,
    # heading level N at slot N (wrapped in section groups when levels
    # skip), lists opened at the current slot with level_at_new_list
    # bookkeeping, numbered headings via hierarchical counters.
    parents: dict[int, object] = {i: None for i in range(-1, 11)}
    numbered_headers: dict[int, int] = {}
    list_counters: dict[tuple, int] = {}
    state = {"level_at_new_list": None, "prev_numid": None, "prev_indent": None}

    def get_level() -> int:
        for k in range(0, 11):
            if parents[k] is None:
                return k
        return 0

    def add_header(curr_level, text, is_numbered_style):
        """msword_backend.py:965-1026 _add_header."""
        level = get_level()
        if isinstance(curr_level, int):
            if curr_level > level:
                for i in range(level, curr_level):
                    parents[i] = doc.add_group(
                        "section", name=f"header-{i}", parent=parents[i - 1]
                    )
            elif curr_level < level:
                for key in range(curr_level, 11):
                    parents[key] = None
            current_level = curr_level
            parent_level = curr_level - 1
            add_level = curr_level
        else:
            current_level = level
            parent_level = level - 1
            add_level = 1
        if is_numbered_style:
            numbered_headers[add_level] = numbered_headers.get(add_level, 0) + 1
            text = f"{numbered_headers[add_level]} {text}"
            next_level = add_level + 1
            while next_level in numbered_headers:
                numbered_headers[next_level] = 0
                next_level += 1
            previous_level = add_level - 1
            while previous_level in numbered_headers:
                if numbered_headers[previous_level] == 0:
                    numbered_headers[previous_level] += 1
                text = f"{numbered_headers[previous_level]}.{text}"
                previous_level -= 1
        parents[current_level] = doc.add_heading(
            text, level=add_level, parent=parents[parent_level]
        )

    def next_list_counter(numid, ilvl) -> int:
        key = (numid, ilvl)
        list_counters[key] = list_counters.get(key, 0) + 1
        return list_counters[key]

    def add_formatted_list_item(segs_ne, marker, enumerated, level):
        """msword_backend.py:1028-1070: single segment -> the item
        itself; several -> empty item + inline group of TEXT parts."""
        if not segs_ne:
            return
        if len(segs_ne) == 1:
            s = segs_ne[0]
            if s.text.strip():
                doc.add_list_item(
                    s.text.strip(), marker=marker, enumerated=enumerated,
                    formatting=s.fmt, hyperlink=s.link, parent=parents[level],
                )
        else:
            item = doc.add_list_item(
                "", marker=marker, enumerated=enumerated, parent=parents[level]
            )
            inline = doc.add_group("inline", parent=item)
            for s in segs_ne:
                if s.text.strip():
                    doc.add_text(
                        text=s.text.strip(), formatting=s.fmt,
                        hyperlink=s.link, parent=inline,
                    )

    def add_list_item(numid, ilvl, segs_ne, is_numbered):
        """msword_backend.py:1072-1168 list open/indent/dedent cases."""
        level = get_level()
        prev_numid = state["prev_numid"]
        prev_indent = state["prev_indent"]
        marker = f"{next_list_counter(numid, ilvl)}." if is_numbered else ""
        if prev_numid is None:  # open new list
            state["level_at_new_list"] = level
            for key in [k for k in list_counters if k[0] == numid]:
                list_counters[key] = 0
            marker = f"{next_list_counter(numid, ilvl)}." if is_numbered else ""
            parents[level] = doc.add_list_group(name="list", parent=parents[level - 1])
            add_formatted_list_item(segs_ne, marker, is_numbered, level)
        elif (
            prev_numid == numid
            and state["level_at_new_list"] is not None
            and prev_indent is not None
            and prev_indent < ilvl
        ):  # open indented list
            base = state["level_at_new_list"]
            for i in range(base + prev_indent + 1, base + ilvl + 1):
                parents[i] = doc.add_list_group(name="list", parent=parents[i - 1])
            add_formatted_list_item(segs_ne, marker, is_numbered, base + ilvl)
        elif (
            prev_numid == numid
            and state["level_at_new_list"] is not None
            and prev_indent is not None
            and ilvl < prev_indent
        ):  # dedent
            base = state["level_at_new_list"]
            for k in range(0, 11):
                if k > base + ilvl:
                    parents[k] = None
            add_formatted_list_item(segs_ne, marker, is_numbered, base + ilvl)
        elif prev_numid == numid or prev_indent == ilvl:
            add_formatted_list_item(segs_ne, marker, is_numbered, level - 1)

    def close_list():
        if state["level_at_new_list"] is not None:
            for key in range(0, 11):
                if key >= state["level_at_new_list"]:
                    parents[key] = None
            state["level_at_new_list"] = None
        else:
            for key in range(0, 11):
                parents[key] = None

    VML_TEXTBOX = "{urn:schemas-microsoft-com:vml}textbox"

    def _paragraph_position(el):
        """Sibling index among w:p children of the same parent
        (msword_backend.py:542-559)."""
        par = parent_of.get(el)
        if par is None:
            return None
        sibs = [c for c in par if c.tag == f"{W}p"]
        try:
            return sibs.index(el)
        except ValueError:
            return None

    def _para_plain_text(el) -> str:
        return "".join(t.text or "" for t in el.iter(f"{W}t"))

    def handle_textbox_content(container_p) -> None:
        """Reference textbox pipeline (msword_backend.py:193-201 xpath
        union, 612-659 container grouping, 669-741 group + position
        sort + (text, position) dedup): BOTH AlternateContent
        renditions are collected — duplicates collapse only when text
        AND sibling position agree, which keeps differently-positioned
        empty paragraphs (pinned by the textbox.docx groundtruth)."""
        # match events in true document order, like the reference xpath
        # union .//w:txbxContent | .//v:textbox//w:p: a txbxContent
        # container matches at its own position, each VML paragraph at
        # its own (the txbxContent inside a v:textbox comes FIRST)
        tb_elements = []
        for el in container_p.iter():
            if el.tag == f"{W}txbxContent":
                tb_elements.append(el)
            elif el.tag == f"{W}p":
                cur = parent_of.get(el)
                while cur is not None and cur is not container_p:
                    if cur.tag == VML_TEXTBOX:
                        tb_elements.append(el)
                        break
                    cur = parent_of.get(cur)
        if not tb_elements:
            return
        level = get_level()
        group = doc.add_group("section", name="textbox", parent=parents[level - 1])
        saved = parents[level]
        parents[level] = group

        containers: dict[int, list] = {}
        seen_elems: set[int] = set()
        for el in tb_elements:
            if id(el) in seen_elems:
                continue
            seen_elems.add(id(el))
            if el.tag == f"{W}p":
                cid = None
                cur = parent_of.get(el)
                while cur is not None:
                    if any(k in cur.tag for k in ("textbox", "shape", "txbx")):
                        cid = id(cur)
                        break
                    cur = parent_of.get(cur)
                containers.setdefault(cid, []).append((el, _paragraph_position(el)))
            else:  # txbxContent
                ps = list(el.iter(f"{W}p"))
                containers.setdefault(id(el), []).extend(
                    (tp, _paragraph_position(tp)) for tp in ps
                )

        all_paragraphs = []
        for paras in containers.values():
            all_paragraphs.extend(
                sorted(paras, key=lambda x: (x[1] is None, x[1] if x[1] is not None else float("inf")))
            )
        processed: set = set()
        for tp, pos in all_paragraphs:
            key = (_para_plain_text(tp), pos)
            if key in processed:
                continue
            processed.add(key)
            handle_paragraph(tp)
        parents[level] = saved

    def handle_paragraph(p) -> None:
        drawings: list = []
        textboxes: list = []
        segs = _collect_segments(p, rels, drawings, textboxes)
        # textbox content first (walker order, msword_backend.py:193-250);
        # the container paragraph still flows through text handling below,
        # which is how the reference emits the empty paragraph after each
        # textbox group (its text excludes textbox-nested runs)
        if any(el.tag == f"{W}txbxContent" or el.tag == VML_TEXTBOX for el in p.iter()):
            handle_textbox_content(p)
        had_media = bool(drawings)
        # each embedded image renders once, at its LAST referencing
        # paragraph (word_image_anchors golden: rId6 is anchored twice,
        # one picture appears, before the second referencing paragraph)
        for rid in drawings:
            if rid and last_para_for_rid.get(rid) not in (None, id(p)):
                continue
            if rid in emitted_rids:
                continue
            if rid:
                emitted_rids.add(rid)
            node = doc.add_picture(parent=parents[get_level() - 1])
            node.image = _media_payload(rid)
        drawings.clear()
        text = "".join(s.text for s in segs).strip()
        style = _para_style(p)
        num = _para_numbering(p)
        m = _HEADING_RE.match(style)
        is_title = style.lower() == "title"
        is_heading = bool(m)
        segs_ne = [s for s in segs if s.text.strip()]
        has_math = any(s.is_math for s in segs)

        # ---- lists (msword_backend.py:818-858); history tracks every
        # paragraph's numid — numbered HEADINGS set it too, so the next
        # plain paragraph triggers the close-list hierarchy wipe (the
        # reference's observable behavior, pinned by the
        # unit_test_headers_numbered groundtruth tree)
        num_ok = num is not None and num[0] != "0"
        if num_ok and not (is_title or is_heading):
            num_id, ilvl = num
            fmt_lvl = numbering.get((num_id, ilvl), ("bullet", ""))
            is_numbered = fmt_lvl[0] not in ("bullet", "none")
            # no text gate: an empty numbered paragraph still OPENS the
            # list group (reference _add_list_item runs unconditionally;
            # the item itself is skipped when the text is empty)
            add_list_item(num_id, ilvl, segs_ne, is_numbered)
            state["prev_numid"] = num_id
            state["prev_indent"] = ilvl
            return
        elif (
            not num_ok
            and state["prev_numid"] is not None
            and not (is_title or is_heading)
        ):  # close the open list, then fall through
            close_list()
        state["prev_numid"] = num[0] if num_ok else None
        state["prev_indent"] = num[1] if num_ok else None

        if has_math:
            plain = "".join(s.text for s in segs if not s.is_math).strip()
            level = get_level()
            if not plain:
                # standalone equation(s) (msword_backend.py:877-885)
                doc.add_text(
                    label="formula",
                    text="".join(s.text for s in segs if s.is_math),
                    parent=parents[level - 1],
                )
            else:
                # inline equation: alternating paragraph/formula nodes in
                # an inline group; pre-equation text keeps its trailing
                # whitespace, the final tail is stripped
                # (msword_backend.py:886-917)
                inline = doc.add_group("inline", parent=parents[level - 1])
                last_math_i = max(i for i, s in enumerate(segs) if s.is_math)
                for i, s in enumerate(segs):
                    if s.is_math:
                        doc.add_text(label="formula", text=s.text, parent=inline)
                        continue
                    t = s.text.strip() if i > last_math_i else s.text
                    if t:
                        # equation-adjacent text is added WITHOUT
                        # formatting (msword_backend.py:902-907)
                        doc.add_text(
                            label="paragraph", text=t,
                            hyperlink=s.link, parent=inline,
                        )
        elif text and is_title:
            # Title clears the hierarchy and takes slot 0
            for key in range(0, 11):
                parents[key] = None
            parents[0] = doc.add_title(text)
        elif text and is_heading:
            curr_level = int(m.group(1))
            is_numbered_style = (
                style in style_numpr or _para_numbering(p) is not None
            )
            add_header(curr_level, text, is_numbered_style)
        elif text:
            level = get_level()
            if len(segs_ne) > 1:
                inline = doc.add_group("inline", parent=parents[level - 1])
                for s in segs_ne:
                    doc.add_text(
                        label="paragraph", text=s.text.strip(), formatting=s.fmt,
                        hyperlink=s.link, parent=inline,
                    )
            else:
                s = segs_ne[0]
                doc.add_text(
                    label="paragraph", text=s.text.strip(), formatting=s.fmt,
                    hyperlink=s.link, parent=parents[level - 1],
                )
        elif not had_media:
            # empty w:p -> an empty paragraph item (the reference keeps
            # them "for backwards compatibility", msword_backend.py:490-492);
            # paragraphs that exist only to host a drawing emit nothing
            doc.add_text(
                label="paragraph", text="", parent=parents[get_level() - 1]
            )
        for rid in drawings:
            node = doc.add_picture(parent=parents[get_level() - 1])
            node.image = _media_payload(rid)

    def handle_table(tbl) -> None:
        rows = tbl.findall(f"{W}tr")
        tcs = [tc for tr in rows for tc in tr.findall(f"{W}tc")]
        if len(tcs) == 1:
            # single-cell table = container (tablecell.docx golden):
            # promote contents to block flow, recursively
            for el in tcs[0]:
                if el.tag == f"{W}p":
                    handle_paragraph(el)
                elif el.tag == f"{W}tbl":
                    handle_table(el)
            return
        if state["prev_numid"] is not None:
            close_list()
            state["prev_numid"] = None
            state["prev_indent"] = None
        doc.add_table(_parse_table(tbl, rels), parent=parents[get_level() - 1])

    for el in body:
        if el.tag == f"{W}tbl":
            handle_table(el)
        elif el.tag == f"{W}p":
            handle_paragraph(el)
        elif el.tag == f"{W}sdt":
            # structured document tag (e.g. table of contents): process
            # the contained paragraphs (msword_backend.py:267-274)
            content = el.find(f".//{W}sdtContent")
            if content is not None:
                for sp in content.iter(f"{W}p"):
                    handle_paragraph(sp)
    return doc


def _load_rels(z: zipfile.ZipFile) -> dict[str, str]:
    try:
        root = ET.fromstring(z.read("word/_rels/document.xml.rels"))
    except KeyError:
        return {}
    return {
        rel.get("Id"): rel.get("Target", "")
        for rel in root.findall(f"{REL}Relationship")
    }


def _load_style_numbering(z: zipfile.ZipFile) -> dict[str, tuple[str, int]]:
    """styleId -> (numId, ilvl) for styles that carry numbering."""
    try:
        root = ET.fromstring(z.read("word/styles.xml"))
    except KeyError:
        return {}
    out: dict[str, tuple[str, int]] = {}
    for style in root.findall(f"{W}style"):
        sid = style.get(f"{W}styleId", "")
        numpr = style.find(f"{W}pPr/{W}numPr")
        if numpr is None:
            continue
        nid = numpr.find(f"{W}numId")
        ilvl = numpr.find(f"{W}ilvl")
        if nid is not None:
            out[sid] = (
                nid.get(f"{W}val", "0"),
                int(ilvl.get(f"{W}val", "0")) if ilvl is not None else 0,
            )
    return out


def _para_style(p) -> str:
    el = p.find(f"{W}pPr/{W}pStyle")
    return el.get(f"{W}val", "") if el is not None else ""


def _para_numbering(p) -> tuple[str, int] | None:
    """(numId, ilvl) when the paragraph has numbering, else None.

    DESCENDANT search, like the reference's ``.//w:numPr`` xpath
    (msword_backend.py:305-307): a paragraph hosting a textbox picks up
    the first nested numPr — an observable quirk the textbox.docx
    groundtruth depends on (the container joins/opens the inner list's
    numbering history)."""
    numpr = p.find(f".//{W}numPr")
    if numpr is None:
        return None
    nid = numpr.find(f"{W}numId")
    ilvl = numpr.find(f"{W}ilvl")
    num_id = nid.get(f"{W}val", "0") if nid is not None else "0"
    return num_id, int(ilvl.get(f"{W}val", "0")) if ilvl is not None else 0
