"""B6 live golden: run the REFERENCE's AsciiDoc backend source
(/root/reference/docling/backend/asciidoc_backend.py) against its own
fixtures and pin our kernel's output to the exact node sequence it
produces.

The reference repo's committed asciidoc goldens are stale (they predate
its current backend), so the backend itself is the only trustworthy
oracle. Its heavy dependencies (docling_core / pydantic model stack)
are not installed here — but the backend's parse logic only touches a
tiny surface of them, so this harness seeds ``sys.modules`` with
minimal recording fakes and imports the real backend module unchanged.
Every ``doc.add_*`` call it makes is captured as an event; our kernel's
node pool must replay the same event sequence.
"""

import sys
import types

import pytest
from conftest import REFERENCE, needs_reference

pytestmark = needs_reference

FIXTURES = sorted((REFERENCE / "tests/data/asciidoc").glob("*.asciidoc"))


def _load_reference_backend():
    """Import the reference backend with recording fakes for its deps.
    Returns (AsciiDocBackend, event-list factory)."""

    class _Rec:
        """Generic keyword-record object (stands in for pydantic models
        TableCell / TableData / Size / ImageRef / DocumentOrigin)."""

        def __init__(self, **kw):
            self.__dict__.update(kw)
            if "table_cells" in kw:
                self.table_cells = kw["table_cells"]

    class _Label(str):
        pass

    doc_mod = types.ModuleType("docling_core.types.doc")
    doc_mod.DocItemLabel = types.SimpleNamespace(
        TITLE=_Label("title"),
        PARAGRAPH=_Label("text"),
        CAPTION=_Label("caption"),
    )
    doc_mod.GroupLabel = types.SimpleNamespace(LIST=_Label("list"))
    doc_mod.DocumentOrigin = _Rec
    doc_mod.GroupItem = _Rec
    doc_mod.ImageRef = _Rec
    doc_mod.Size = _Rec
    doc_mod.TableCell = _Rec
    doc_mod.TableData = _Rec

    class FakeDoc:
        """Records every add_* call the backend makes, in order."""

        def __init__(self, name=None, origin=None):
            self.events = []

        def add_text(self, text=None, label=None, parent=None):
            self.events.append((str(label or "text"), text))
            return _Rec(kind="text")

        def add_heading(self, text=None, level=1, parent=None):
            self.events.append(("heading", level, text))
            return _Rec(kind="heading")

        def add_group(self, parent=None, name=None, label=None):
            self.events.append(("group", str(label)))
            return _Rec(kind="group")

        def add_list_item(self, text, parent=None):
            self.events.append(("list_item", text))
            return _Rec(kind="list_item")

        def add_table(self, data=None, parent=None, caption=None):
            cells = [
                (
                    c.text,
                    c.start_row_offset_idx,
                    c.start_col_offset_idx,
                    c.column_header,
                )
                for c in data.table_cells
            ]
            self.events.append(
                ("table", data.num_rows, data.num_cols, tuple(cells))
            )
            return _Rec(kind="table")

        def add_picture(self, image=None, caption=None):
            # the real Size model coerces ints to float; mirror that so
            # the event tuple is comparable with our kernel's floats
            self.events.append(
                ("picture", getattr(image, "uri", None),
                 getattr(image, "mimetype", None),
                 getattr(image, "dpi", None),
                 (float(image.size.width), float(image.size.height)))
            )
            return _Rec(kind="picture")

    doc_mod.DoclingDocument = FakeDoc

    core = types.ModuleType("docling_core")
    core_types = types.ModuleType("docling_core.types")
    core.types = core_types
    core_types.doc = doc_mod

    abstract = types.ModuleType("docling.backend.abstract_backend")

    class DeclarativeDocumentBackend:
        def __init__(self, in_doc, path_or_stream):
            self.path_or_stream = path_or_stream
            self.document_hash = "x"
            self.file = in_doc.file

    abstract.DeclarativeDocumentBackend = DeclarativeDocumentBackend

    base_models = types.ModuleType("docling.datamodel.base_models")
    base_models.InputFormat = types.SimpleNamespace(ASCIIDOC="asciidoc")
    document = types.ModuleType("docling.datamodel.document")
    document.InputDocument = object

    saved = {
        k: sys.modules.get(k)
        for k in (
            "docling_core", "docling_core.types", "docling_core.types.doc",
            "docling.backend.abstract_backend",
            "docling.datamodel.base_models", "docling.datamodel.document",
            "docling", "docling.backend", "docling.backend.asciidoc_backend",
            "docling.datamodel",
        )
    }
    sys.modules["docling_core"] = core
    sys.modules["docling_core.types"] = core_types
    sys.modules["docling_core.types.doc"] = doc_mod
    sys.modules["docling.backend.abstract_backend"] = abstract
    sys.modules["docling.datamodel.base_models"] = base_models
    sys.modules["docling.datamodel.document"] = document
    sys.path.insert(0, str(REFERENCE))
    try:
        for k in ("docling", "docling.backend", "docling.backend.asciidoc_backend"):
            sys.modules.pop(k, None)
        import docling.backend.asciidoc_backend as ab

        return ab.AsciiDocBackend, FakeDoc
    finally:
        sys.path.remove(str(REFERENCE))
        # leave the fakes in sys.modules only while this module is used;
        # restore anything we displaced
        for k, v in saved.items():
            if v is not None:
                sys.modules[k] = v


def _reference_events(raw: bytes):
    from io import BytesIO

    AsciiDocBackend, FakeDoc = _load_reference_backend()
    in_doc = types.SimpleNamespace(
        file=types.SimpleNamespace(name="f.asciidoc", stem="f")
    )
    backend = AsciiDocBackend(in_doc, BytesIO(raw))
    doc = FakeDoc()
    backend._parse(doc)
    return doc.events


def _our_events(raw: bytes):
    """Flatten our kernel's Doc node pool into the same event stream."""
    from docling_spark.kernels.asciidoc_kernel import parse_asciidoc

    doc = parse_asciidoc(raw)
    events = []
    for n in doc.nodes:
        if n.kind == "title":
            events.append(("title", n.text))
        elif n.kind == "section_header":
            events.append(("heading", n.level, n.text))
        elif n.kind == "group":
            events.append(("group", "list"))
        elif n.kind == "list_item":
            events.append(("list_item", n.text))
        elif n.kind == "table":
            cells = [
                (c.text, c.start_row, c.start_col, c.column_header)
                for c in n.table.cells
            ]
            events.append(
                ("table", n.table.num_rows, n.table.num_cols, tuple(cells))
            )
        elif n.kind == "picture":
            img = n.image or {}
            sz = img.get("size") or {}
            events.append(
                ("picture", img.get("uri"),
                 img.get("mimetype"), img.get("dpi"),
                 (float(sz.get("width", 0)), float(sz.get("height", 0))))
            )
        elif n.kind in ("text", "paragraph"):
            events.append(("text", n.text))
        elif n.kind == "caption":
            events.append(("caption", n.text))
    return events


@pytest.mark.parametrize("fixture", FIXTURES, ids=[p.stem for p in FIXTURES])
def test_live_golden_reference_backend_parity(fixture):
    """Exact node-sequence parity with the reference backend, executed
    live from its own source tree on its own fixtures."""
    try:
        raw = fixture.read_bytes()
        ref = _reference_events(raw)
    except ImportError as e:
        pytest.skip(f"reference backend not importable: {e}")
    assert _our_events(raw) == ref
