"""OMML (Office Math Markup) -> LaTeX.

Fresh implementation of the conversion the reference performs with its
vendored dwml-derived module + pylatexenc
(/root/reference/docling/backend/docx/latex/omml.py, latex_dict.py —
pylatexenc is not available in this environment). Behavior is pinned by
the DOCX equation goldens (equations.docx.md,
table_with_equations.docx.md):

* per-character symbol translation with pylatexenc-style spacing: a
  symbol that encodes to a single command gets surrounding spaces
  ("π" -> " \\pi "), text-mode commands get a \\text wrapper with inner
  spaces ("×" -> " \\text{ \\texttimes } ");
* structure handlers: fractions, delimiters (\\left...\\right),
  sub/superscripts, radicals, n-ary operators with limits, function
  application (\\cos(...)), accents/bars/group-chars, matrices;
* the final string collapses one double-space pass like the
  reference's __str__ does.
"""

from __future__ import annotations

M = "{http://schemas.openxmlformats.org/officeDocument/2006/math}"

# unicode -> latex command (no surrounding spaces; spacing added by rule)
_SYMBOLS = {
    "π": "\\pi", "α": "\\alpha", "β": "\\beta", "γ": "\\gamma",
    "δ": "\\delta", "ε": "\\epsilon", "ζ": "\\zeta", "η": "\\eta",
    "θ": "\\theta", "ι": "\\iota", "κ": "\\kappa", "λ": "\\lambda",
    "μ": "\\mu", "ν": "\\nu", "ξ": "\\xi", "ρ": "\\rho",
    "σ": "\\sigma", "τ": "\\tau", "υ": "\\upsilon", "φ": "\\phi",
    "χ": "\\chi", "ψ": "\\psi", "ω": "\\omega",
    "Γ": "\\Gamma", "Δ": "\\Delta", "Θ": "\\Theta", "Λ": "\\Lambda",
    "Ξ": "\\Xi", "Π": "\\Pi", "Σ": "\\Sigma", "Φ": "\\Phi",
    "Ψ": "\\Psi", "Ω": "\\Omega",
    "∞": "\\infty", "±": "\\pm", "∓": "\\mp",
    "×": "\\texttimes", "÷": "\\textdiv", "\u2026": "\\textellipsis",
    "≠": "\\ne", "≤": "\\leq", "≥": "\\geq", "≈": "\\approx",
    "→": "\\rightarrow", "←": "\\leftarrow", "∈": "\\in", "∉": "\\notin",
    "⋅": "\\cdot", "∂": "\\partial", "∇": "\\nabla",
    # pylatexenc braces these ordinary chars, which the reference's
    # spacing rule turns into space-padded forms (equations golden
    # "- \\infty  < x <  \\infty")
    "<": "<", ">": ">",
}

_NARY = {
    "∑": "\\sum", "∏": "\\prod", "∐": "\\coprod", "∫": "\\int",
    "⋀": "\\bigwedge", "⋁": "\\bigvee", "⋂": "\\bigcap", "⋃": "\\bigcup",
}

_FUNC = {
    "sin": "\\sin({fe})", "cos": "\\cos({fe})", "tan": "\\tan({fe})",
    "arcsin": "\\arcsin({fe})", "arccos": "\\arccos({fe})",
    "arctan": "\\arctan({fe})", "sinh": "\\sinh({fe})",
    "cosh": "\\cosh({fe})", "tanh": "\\tanh({fe})", "sec": "\\sec({fe})",
    "csc": "\\csc({fe})", "min": "\\min({fe})", "max": "\\max({fe})",
    "mod": "\\mod {fe}",
}

# math-alphanumeric plane -> plain letters (serif italic/bold ranges)
_MATH_ALNUM_BASE = {
    0x1D400: "A", 0x1D41A: "a", 0x1D434: "A", 0x1D44E: "a",
    0x1D468: "A", 0x1D482: "a", 0x1D7CE: "0",
}


def _plain_char(ch: str) -> str | None:
    cp = ord(ch)
    for base, start in _MATH_ALNUM_BASE.items():
        n = 10 if start == "0" else 26
        if base <= cp < base + n:
            return chr(ord(start) + cp - base)
    if cp == 0x1D455:  # planck h hole in italic range
        return "h"
    return None


def _char_latex(ch: str) -> str:
    """Reproduce the reference's pylatexenc post-processing spacing
    (omml.py process_unicode): a math symbol encodes as
    ``{\\ensuremath{\\cmd}}`` whose brace/ensuremath unwrapping leaves
    TWO spaces each side; ordinary braced chars ("<", ">") get one;
    text-mode commands get a \\text wrapper with inner spaces. The
    final double-space collapse then yields the golden spacing."""
    plain = _plain_char(ch)
    if plain is not None:
        return plain
    cmd = _SYMBOLS.get(ch)
    if cmd is None:
        return ch
    if not cmd.startswith("\\"):
        return f" {cmd} "
    if cmd.lstrip("\\").startswith("text"):
        return f" \\text{{ {cmd} }} "
    return f"  {cmd}  "


def _text_latex(text: str) -> str:
    return "".join(_char_latex(c) for c in text)


def _tag(el) -> str:
    return el.tag.split("}")[1] if "}" in el.tag else el.tag


def _val(el, name: str) -> str | None:
    child = el.find(f"{M}{name}")
    if child is None:
        return None
    return child.get(f"{M}val")


class _Omml:
    def convert(self, el) -> str:
        return self._children(el)

    def _children(self, el) -> str:
        return "".join(self._one(c) for c in el)

    def _one(self, el) -> str:
        handler = getattr(self, f"_do_{_tag(el)}", None)
        if handler is not None:
            return handler(el)
        tag = _tag(el)
        if tag.endswith("Pr"):
            return ""
        return self._children(el)

    # -- leaves ----------------------------------------------------------
    def _do_r(self, el) -> str:
        text = "".join(t.text or "" for t in el.findall(f"{M}t"))
        return _text_latex(text)

    def _do_t(self, el) -> str:
        return _text_latex(el.text or "")

    # -- structures ------------------------------------------------------
    def _do_f(self, el) -> str:
        num = self._first(el, "num")
        den = self._first(el, "den")
        pr = el.find(f"{M}fPr")
        if pr is not None and _val(pr, "type") == "noBar":
            return f"\\genfrac{{}}{{}}{{0pt}}{{}}{{{num}}}{{{den}}}"
        return f"\\frac{{{num}}}{{{den}}}"

    def _first(self, el, tag: str) -> str:
        child = el.find(f"{M}{tag}")
        return self._children(child) if child is not None else ""

    def _do_d(self, el) -> str:
        pr = el.find(f"{M}dPr")
        left = (_val(pr, "begChr") if pr is not None else None)
        right = (_val(pr, "endChr") if pr is not None else None)
        left = "(" if left is None else (left or ".")
        right = ")" if right is None else (right or ".")
        body = "".join(
            self._children(e) for e in el.findall(f"{M}e")
        )
        return f"\\left{left}{body}\\right{right}"

    def _do_sSup(self, el) -> str:
        return f"{self._first(el, 'e')}^{{{self._first(el, 'sup')}}}"

    def _do_sSub(self, el) -> str:
        return f"{self._first(el, 'e')}_{{{self._first(el, 'sub')}}}"

    def _do_sSubSup(self, el) -> str:
        return (
            f"{self._first(el, 'e')}"
            f"_{{{self._first(el, 'sub')}}}^{{{self._first(el, 'sup')}}}"
        )

    def _do_rad(self, el) -> str:
        deg = self._first(el, "deg")
        body = self._first(el, "e")
        if deg:
            return f"\\sqrt[{deg}]{{{body}}}"
        return f"\\sqrt{{{body}}}"

    def _do_nary(self, el) -> str:
        pr = el.find(f"{M}naryPr")
        chr_val = _val(pr, "chr") if pr is not None else None
        op = _NARY.get(chr_val or "∫", "\\int")
        parts = []
        for c in el:
            t = _tag(c)
            if t == "sub":
                parts.append(f"_{{{self._children(c)}}}")
            elif t == "sup":
                parts.append(f"^{{{self._children(c)}}}")
            elif t == "e":
                parts.append(self._children(c))
        return op + "".join(parts)

    def _do_func(self, el) -> str:
        fname_el = el.find(f"{M}fName")
        body = self._first(el, "e")
        raw = ""
        if fname_el is not None:
            raw = "".join(
                t.text or "" for t in fname_el.iter(f"{M}t")
            )
        template = _FUNC.get(raw)
        if template is None:
            prefix = self._children(fname_el) if fname_el is not None else ""
            return f"{prefix}{body}"
        return template.replace("{fe}", body)

    def _do_bar(self, el) -> str:
        pr = el.find(f"{M}barPr")
        pos = _val(pr, "pos") if pr is not None else None
        tpl = "\\underline{{{0}}}" if pos == "bot" else "\\overline{{{0}}}"
        return tpl.format(self._first(el, "e"))

    def _do_acc(self, el) -> str:
        return f"\\hat{{{self._first(el, 'e')}}}"

    def _do_groupChr(self, el) -> str:
        return self._first(el, "e")

    def _do_limLow(self, el) -> str:
        e = self._first(el, "e")
        lim = self._first(el, "lim").replace("\\rightarrow", "\\to")
        if e.strip() in ("lim", "\\lim"):
            return f"\\lim_{{{lim}}}"
        return f"\\underset{{{lim}}}{{{e}}}"

    def _do_limUpp(self, el) -> str:
        return (
            f"\\overset{{{self._first(el, 'lim')}}}{{{self._first(el, 'e')}}}"
        )

    def _do_m(self, el) -> str:
        rows = []
        for mr in el.findall(f"{M}mr"):
            rows.append(
                "&".join(self._children(e) for e in mr.findall(f"{M}e"))
            )
        return "\\begin{matrix}" + "\\\\".join(rows) + "\\end{matrix}"

    def _do_eqArr(self, el) -> str:
        return "\\\\".join(self._children(e) for e in el.findall(f"{M}e"))


def omml_to_latex(el) -> str:
    """One m:oMath element -> latex (reference collapses one
    double-space pass, omml.py __str__)."""
    return _Omml().convert(el).replace("  ", " ")
