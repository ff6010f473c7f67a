"""JATS (scientific article XML) backend kernel (B7).

Behavioral port of /root/reference/docling/backend/xml/jats_backend.py
(lxml-based there; stdlib xml.etree here) targeting byte-identical
markdown/itxt on the reference's .nxml goldens:

* metadata: title ("-"-joined title-groups), authors paragraph
  (", "-joined names), affiliations paragraph ("; "-joined, deduped,
  label prefix removed), abstract section (jats_backend.py:201-343);
* linear body/back walk with sec/ack headings tracking a running
  heading level, lists, figures (label+caption -> picture caption),
  table-wraps (the inner <table> parsed by OUR html table kernel),
  ref-list -> heading + list group of formatted citations
  (jats_backend.py:612-715);
* element-citation flattening with the exact field order and
  punctuation of the reference (jats_backend.py:353-477), including
  en-dash page ranges and upper-cased pub-id types.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from .doc_model import CAPTION, Doc

DEFAULT_HEADER_ABSTRACT = "Abstract"
DEFAULT_HEADER_ACKNOWLEDGMENTS = "Acknowledgments"
DEFAULT_HEADER_REFERENCES = "References"
DEFAULT_TEXT_ETAL = "et al."

_SKIP_TEXT_TAGS = {"term", "disp-formula", "inline-formula"}


class JatsError(Exception):
    pass


def _clean(s: str | None) -> str:
    return s.replace("\n", " ") if s else ""


def _get_text(node, sep: str | None = None) -> str:
    text = _clean(node.text) if node.tag not in _SKIP_TEXT_TAGS else ""
    for child in list(node):
        if child.tag not in _SKIP_TEXT_TAGS:
            text += _get_text(child, sep)
        if sep:
            text = text.rstrip(sep) + sep
        text += _clean(child.tail)
    return text


class _Jats:
    def __init__(self, root, name: str):
        self.tree = root
        self.doc = Doc(name)
        self.root_node = None
        self.hlevel = 0

    # ------------------------------------------------------- metadata
    def _meta(self):
        for name in ("article-meta", "book-part-meta"):
            node = next(self.tree.iter(name), None)
            if node is not None:
                return node
        return None

    def parse_title(self) -> str:
        meta_names = ("article-meta", "collection-meta", "book-meta", "book-part-meta")
        title_names = {"article-title", "subtitle", "title", "label"}
        titles = []
        for container in meta_names:
            for meta in self.tree.iter(container):
                for tg in meta.iter("title-group"):
                    titles.append(
                        " ".join(
                            _clean(el.text).strip()
                            for el in list(tg)
                            if el.tag in title_names
                        ).strip()
                    )
        return " - ".join(titles)

    def parse_authors(self):
        authors = []
        meta = self._meta()
        if meta is None:
            return authors
        aff_names = {}
        for aff in meta.iter("aff"):
            aff_id = aff.get("id")
            if not aff_id:
                continue
            text = ", ".join(t for t in aff.itertext() if t.strip())
            text = text.replace("\n", " ")
            label = aff.find("label")
            if label is not None and label.text:
                text = text.removeprefix(f"{label.text}, ")
            aff_names[aff_id] = text
        for cg in meta.iter("contrib-group"):
            for contrib in cg.findall("contrib"):
                if contrib.get("contrib-type") != "author":
                    continue
                name_el = contrib.find("name")
                if name_el is None:
                    continue
                given = name_el.find("given-names")
                surname = name_el.find("surname")
                if given is None or surname is None:
                    continue
                affs = []
                for xref in contrib.findall("xref"):
                    if xref.get("ref-type") == "aff":
                        rid = xref.get("rid")
                        if rid in aff_names:
                            affs.append(aff_names[rid])
                authors.append(
                    {"name": f"{given.text} {surname.text}", "affiliation_names": affs}
                )
        return authors

    def parse_abstracts(self):
        out = []
        for abs_node in self.tree.iter("abstract"):
            texts = [
                _get_text(p).strip() for p in abs_node.findall("p")
            ]
            label = ""
            for tag in ("title", "label"):
                el = abs_node.find(tag)
                if el is not None and el.text:
                    label = el.text.strip()
                    break
            out.append({"label": label, "content": " ".join(texts)})
        return out

    def add_metadata(self) -> None:
        doc = self.doc
        self.root_node = doc.add_title(self.parse_title())
        authors = self.parse_authors()
        authors_str = ", ".join(a["name"] for a in authors)
        affiliations = [
            aff for a in authors for aff in a["affiliation_names"]
        ]
        affiliations_str = "; ".join(dict.fromkeys(affiliations))
        if authors_str:
            doc.add_text(
                label="paragraph", text=authors_str, parent=self.root_node
            )
        if affiliations_str:
            doc.add_text(
                label="paragraph", text=affiliations_str, parent=self.root_node
            )
        for abstract in self.parse_abstracts():
            if not abstract["content"]:
                continue
            parent = doc.add_heading(
                abstract["label"] or DEFAULT_HEADER_ABSTRACT,
                level=self.hlevel + 1,
                parent=self.root_node,
            )
            doc.add_text(label="text", text=abstract["content"], parent=parent)

    # ------------------------------------------------------ citations
    def parse_element_citation(self, node) -> str:
        c = {k: "" for k in (
            "author_names", "title", "source", "year", "volume", "page",
            "pub_id", "publisher_name", "publisher_loc",
        )}
        names = []
        for name_node in node.iter("name"):
            sn = name_node.find("surname")
            gn = name_node.find("given-names")
            if sn is not None and gn is not None:
                names.append(
                    f"{_clean(sn.text).strip()} {_clean(gn.text).strip()}"
                )
        etal = next(node.iter("etal"), None)
        if etal is not None:
            names.append(etal.text or DEFAULT_TEXT_ETAL)
        c["author_names"] = ", ".join(names)

        title_node = None
        for tag in (
            "article-title", "chapter-title", "data-title", "issue-title",
            "part-title", "trans-title",
        ):
            el = node.find(tag)
            if el is not None:
                title_node = el
                break
        c["title"] = (
            _get_text(title_node) if title_node is not None else _clean(node.text).strip()
        )

        for tag in ("source", "year", "publisher-name", "publisher-loc", "volume"):
            el = node.find(tag)
            if el is not None and el.text:
                c[tag.replace("-", "_")] = _clean(el.text).strip()

        pub_ids = []
        for id_node in node.findall("pub-id"):
            id_type = id_node.get("assigning-authority") or id_node.get("pub-id-type")
            if id_type and id_node.text:
                pub_ids.append(
                    _clean(id_type).strip().upper() + ": " + _clean(id_node.text).strip()
                )
        c["pub_id"] = ", ".join(pub_ids)

        eloc = node.find("elocation-id")
        fpage = node.find("fpage")
        if eloc is not None and eloc.text:
            c["page"] = _clean(eloc.text).strip()
        elif fpage is not None and fpage.text:
            c["page"] = _clean(fpage.text).strip()
            lpage = node.find("lpage")
            if lpage is not None and lpage.text:
                c["page"] += "–" + _clean(lpage.text).strip()

        text = ""
        if c["author_names"]:
            text += c["author_names"].rstrip(".") + ". "
        if c["title"]:
            text += c["title"] + ". "
        if c["source"]:
            text += c["source"] + ". "
        if c["publisher_name"]:
            if c["publisher_loc"]:
                text += f"{c['publisher_loc']}: "
            text += c["publisher_name"] + ". "
        if c["volume"]:
            text = text.rstrip(". ")
            text += f" {c['volume']}. "
        if c["page"]:
            text = text.rstrip(". ")
            if c["volume"]:
                text += ":"
            text += c["page"] + ". "
        if c["year"]:
            text = text.rstrip(". ")
            text += f" ({c['year']})."
        if c["pub_id"]:
            text = text.rstrip(".") + ". "
            text += c["pub_id"]
        return text

    def _add_citation(self, parent, text: str) -> None:
        from .doc_model import G_LIST, GROUP

        if parent is not None and parent.kind == GROUP and parent.group_label == G_LIST:
            self.doc.add_list_item(text, parent=parent)
        else:
            self.doc.add_text(label="text", text=text, parent=parent)

    # ------------------------------------------------- figures/tables
    def _caption_text(self, node) -> str | None:
        caption_node = node.find("caption")
        if caption_node is None:
            return None
        caption = ""
        for par in list(caption_node):
            if next(par.iter("supplementary-material"), None) is not None:
                continue
            caption += _get_text(par).strip() + " "
        return caption.strip()

    def add_figure(self, parent, node) -> None:
        label_el = node.find("label")
        label = _get_text(label_el).strip() if label_el is not None else ""
        caption = self._caption_text(node)
        fig_text = f"{label}{' ' if label and caption else ''}{caption or ''}"
        cap_node = None
        if fig_text:
            cap_node = self.doc.add_text(label=CAPTION, text=fig_text)
        self.doc.add_picture(caption=cap_node, parent=parent)

    def add_table_wrap(self, parent, node) -> None:
        table_el = node.find("table")
        if table_el is None:
            alt = node.find("alternatives")
            if alt is not None:
                table_el = alt.find("table")
        label_el = node.find("label")
        label = label_el.text if label_el is not None and label_el.text else ""
        caption = self._caption_text(node) or ""
        table_text = f"{label}{' ' if label and caption else ''}{caption}"
        cap_node = None
        if table_text:
            cap_node = self.doc.add_text(label=CAPTION, text=table_text)
        if table_el is None:
            return
        try:
            table_html = ET.tostring(table_el, encoding="unicode")
            from .html_kernel import HtmlExtractor

            sub = HtmlExtractor(original_url=None).convert(
                f"<html><body>{table_html}</body></html>".encode()
            )
            table_node = next(n for n in sub.nodes if n.kind == "table")
        except Exception:
            return
        node_t = self.doc.add_table(table_node.table, parent=parent)
        if cap_node is not None:
            node_t.caption_id = cap_node.node_id

    def add_equation(self, parent, node) -> None:
        parts = (node.text or "").split("$$")
        if len(parts) == 3:
            self.doc.add_text(label="formula", text=parts[1], parent=parent)

    # ----------------------------------------------------------- walk
    def walk(self, parent, node, parent_tag: str = "") -> str:
        from .doc_model import G_LIST

        doc = self.doc
        flush_tags = ("ack", "sec", "list", "boxed-text", "disp-formula", "fig")
        new_parent = parent
        node_text = _clean(node.text) if node.tag not in ("term",) else ""

        for child in list(node):
            stop_walk = False
            text = None

            if node.tag == "p" and node_text.strip() and child.tag in flush_tags:
                doc.add_text(label="text", text=node_text.strip(), parent=parent)
                node_text = ""

            if child.tag in ("sec", "ack"):
                header = child.find("title")
                if header is None:
                    header = child.find("label")
                if header is not None:
                    text = _get_text(header)
                elif child.tag == "ack":
                    text = DEFAULT_HEADER_ACKNOWLEDGMENTS
                if text:
                    self.hlevel += 1
                    new_parent = doc.add_heading(
                        text, level=self.hlevel, parent=parent
                    )
            elif child.tag == "list":
                new_parent = doc.add_group(G_LIST, name="list", parent=parent)
            elif child.tag == "list-item":
                text = _get_text(child).strip()
                new_parent = doc.add_list_item(text, parent=parent)
                stop_walk = True
            elif child.tag == "fig":
                self.add_figure(parent, child)
                stop_walk = True
            elif child.tag == "table-wrap":
                self.add_table_wrap(parent, child)
                stop_walk = True
            elif child.tag == "suplementary-material":
                # sic: matches the reference's own misspelling
                # (jats_backend.py:663) — kept for byte-parity; real
                # "supplementary-material" elements are walked into text
                # exactly as the reference does.
                stop_walk = True
            elif child.tag == "fn-group":
                stop_walk = True
            elif child.tag == "ref-list" and node.tag != "ref-list":
                header = child.find("title")
                if header is None:
                    header = child.find("label")
                text = (
                    _get_text(header) if header is not None else DEFAULT_HEADER_REFERENCES
                )
                new_parent = doc.add_heading(text, parent=parent)
                new_parent = doc.add_group(G_LIST, name="list", parent=new_parent)
            elif child.tag == "element-citation":
                self._add_citation(parent, self.parse_element_citation(child))
                stop_walk = True
            elif child.tag == "mixed-citation":
                self._add_citation(parent, _get_text(child).strip())
                stop_walk = True
            elif child.tag == "tex-math":
                self.add_equation(parent, child)
                stop_walk = True
            elif child.tag == "inline-formula":
                stop_walk = True

            if not stop_walk:
                new_text = self.walk(new_parent, child, node.tag)
                if not (parent_tag == "p" and node.tag in flush_tags):
                    node_text += new_text
                if child.tag in ("sec", "ack") and text:
                    self.hlevel -= 1

            node_text += _clean(child.tail)

        if node.tag == "p" and node_text.strip():
            doc.add_text(label="text", text=node_text.strip(), parent=parent)
            return ""
        return node_text


def parse_jats(data: bytes, name: str = "doc") -> Doc:
    try:
        root = ET.fromstring(data)
    except ET.ParseError as e:
        raise JatsError(f"bad xml: {e}") from e
    j = _Jats(root, name)
    j.add_metadata()
    body = next(root.iter("body"), None)
    if j.root_node is not None and body is not None:
        j.walk(j.root_node, body)
    back = next(root.iter("back"), None)
    if j.root_node is not None and back is not None:
        j.walk(j.root_node, back)
    return j.doc
