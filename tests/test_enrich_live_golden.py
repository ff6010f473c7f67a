"""V4 live golden: execute the REFERENCE's CodeFormulaModel source
(/root/reference/docling/models/code_formula_model.py) and pin our
enrich.py's deterministic surface to its exact behavior.

The model itself is torch-bound and out of scope in this sandbox, but
two pieces of the reference class are pure logic:

* ``_extract_code_language`` — parsing the ``<_language_>`` prefix the
  model emits ahead of the cleaned code (regex + DOTALL);
* ``is_processable`` — the gate deciding which document items reach
  the model (CodeItem when code enrichment is on; TextItem with the
  FORMULA label when formula enrichment is on).

The heavy imports (torch/transformers/PIL/pydantic/docling_core) are
faked in sys.modules just long enough to import the real module — the
same recording-fake harness as tests/test_asciidoc_live_golden.py.
"""

import sys
import types

import pytest
from conftest import REFERENCE, needs_reference

pytestmark = needs_reference


class _CodeItem:
    def __init__(self, label="code"):
        self.label = label


class _TextItem:
    def __init__(self, label="text"):
        self.label = label


def _load_reference_model():
    """Import the reference code_formula_model with faked heavy deps;
    returns (CodeFormulaModel, fakes namespace)."""

    class _Rec:
        def __init__(self, **kw):
            self.__dict__.update(kw)

    doc_mod = types.ModuleType("docling_core.types.doc")
    doc_mod.CodeItem = _CodeItem
    doc_mod.TextItem = _TextItem
    doc_mod.NodeItem = object
    doc_mod.DoclingDocument = _Rec
    doc_mod.DocItemLabel = types.SimpleNamespace(
        FORMULA="formula", CODE="code"
    )
    labels_mod = types.ModuleType("docling_core.types.doc.labels")

    class _CodeLanguageLabel(str):
        UNKNOWN = "unknown"

    labels_mod.CodeLanguageLabel = _CodeLanguageLabel

    core = types.ModuleType("docling_core")
    core_types = types.ModuleType("docling_core.types")
    core.types = core_types
    core_types.doc = doc_mod
    doc_mod.labels = labels_mod

    pil = types.ModuleType("PIL")
    pil.Image = types.SimpleNamespace(Image=object)
    pydantic_mod = types.ModuleType("pydantic")

    class _BaseModel:
        def __init__(self, **kw):
            self.__dict__.update(kw)

    pydantic_mod.BaseModel = _BaseModel
    transformers_mod = types.ModuleType("transformers")
    transformers_mod.AutoModelForImageTextToText = object
    transformers_mod.AutoProcessor = object

    accel = types.ModuleType("docling.datamodel.accelerator_options")
    accel.AcceleratorDevice = types.SimpleNamespace(CPU="cpu", CUDA="cuda")
    accel.AcceleratorOptions = _Rec
    base_models = types.ModuleType("docling.datamodel.base_models")
    base_models.ItemAndImageEnrichmentElement = _Rec
    base_model_mod = types.ModuleType("docling.models.base_model")

    class _BaseEnrichModel:
        pass

    base_model_mod.BaseItemAndImageEnrichmentModel = _BaseEnrichModel
    hf_mod = types.ModuleType("docling.models.utils.hf_model_download")
    hf_mod.download_hf_model = lambda **kw: None
    accel_utils = types.ModuleType("docling.utils.accelerator_utils")
    accel_utils.decide_device = lambda *a, **kw: "cpu"

    fakes = {
        "docling_core": core,
        "docling_core.types": core_types,
        "docling_core.types.doc": doc_mod,
        "docling_core.types.doc.labels": labels_mod,
        "PIL": pil,
        "pydantic": pydantic_mod,
        "transformers": transformers_mod,
        "docling.datamodel.accelerator_options": accel,
        "docling.datamodel.base_models": base_models,
        "docling.models.base_model": base_model_mod,
        "docling.models.utils.hf_model_download": hf_mod,
        "docling.utils.accelerator_utils": accel_utils,
    }
    saved = {k: sys.modules.get(k) for k in fakes}
    saved.update(
        {
            k: sys.modules.get(k)
            for k in ("docling", "docling.models", "docling.models.code_formula_model")
        }
    )
    sys.modules.update(fakes)
    sys.path.insert(0, str(REFERENCE))
    try:
        for k in ("docling", "docling.models", "docling.models.code_formula_model"):
            sys.modules.pop(k, None)
        import docling.models.code_formula_model as cfm

        return cfm.CodeFormulaModel
    finally:
        sys.path.remove(str(REFERENCE))
        for k, v in saved.items():
            if v is not None:
                sys.modules[k] = v
            else:
                sys.modules.pop(k, None)


@pytest.fixture(scope="module")
def ref_model_cls():
    try:
        return _load_reference_model()
    except ImportError as e:
        pytest.skip(f"reference model not importable: {e}")


# adversarial battery for the <_language_> parse: prefix anchoring,
# DOTALL remainder, empty language, nested/unbalanced markers, unicode
PARSE_CASES = [
    "<_python_> def f(): pass",
    "<_python_>def f(): pass",
    "<_C++_>  int main() {}",
    "<_sql_>\nSELECT 1\nFROM t",       # DOTALL: remainder spans lines
    "<_a b_> spaced language",
    "<__> empty language",              # [^_>]+ requires 1+ chars
    "<_x_>",                            # empty remainder
    "<_x_>   ",                         # whitespace-only remainder
    " <_python_> not at start",         # ^ anchor: no match
    "<_py_thon_> nested underscore",    # [^_>]+ stops at _
    "<_py>thon_> gt inside",            # [^_>]+ stops at >
    "plain text, no tag",
    "",
    "<_日本語_> unicode lang",
    "<_x_><_y_> second tag is remainder",
    "def f():\n    return '<_x_>'",     # tag not at start
]


def test_extract_code_language_live_parity(ref_model_cls):
    """Our parse == the executed reference parse, case by case."""
    from docling_spark.operators.enrich import extract_code_language

    for s in PARSE_CASES:
        ref = ref_model_cls._extract_code_language(None, s)
        ours = extract_code_language(s)
        assert ours == ref, f"case {s!r}: ours={ours!r} ref={ref!r}"


def test_extract_code_language_live_parity_random(ref_model_cls):
    """Deterministic pseudo-random sweep over tag-ish alphabets."""
    import random

    from docling_spark.operators.enrich import extract_code_language

    rng = random.Random(1234)
    alphabet = "<_>abc \n"
    for _ in range(500):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 24)))
        ref = ref_model_cls._extract_code_language(None, s)
        assert extract_code_language(s) == ref, repr(s)


def test_is_processable_gate_live_parity(ref_model_cls):
    """The reference gate's truth table, executed live, must equal the
    label-set gate our Spark driver uses (enrich.enrich_spans filters
    spans by label): code items gate on do_code_enrichment, formula
    text items on do_formula_enrichment, everything else is never
    processable."""
    for do_code in (True, False):
        for do_formula in (True, False):
            m = object.__new__(ref_model_cls)  # skip torch __init__
            m.enabled = True
            m.options = types.SimpleNamespace(
                do_code_enrichment=do_code, do_formula_enrichment=do_formula
            )
            assert m.is_processable(None, _CodeItem()) is do_code
            assert (
                m.is_processable(None, _TextItem(label="formula")) is do_formula
            )
            assert m.is_processable(None, _TextItem(label="text")) is False
            # our driver's equivalent: the label tuple passed to
            # enrich_spans — ("code",) iff do_code, +"formula" iff
            # do_formula; disabled model = empty tuple
            labels = (("code",) if do_code else ()) + (
                ("formula",) if do_formula else ()
            )
            assert ("code" in labels) is do_code
            assert ("formula" in labels) is do_formula
    m = object.__new__(ref_model_cls)
    m.enabled = False
    m.options = types.SimpleNamespace(
        do_code_enrichment=True, do_formula_enrichment=True
    )
    assert m.is_processable(None, _CodeItem()) is False
