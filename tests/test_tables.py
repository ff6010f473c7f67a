"""The table path against its per-cell oracle.

``TableDataIR.grid``, ``markdown.render_table``, ``textout.table_text``
and ``html_kernel.parse_table_data`` fill and render a span once per run
of identical columns. The functions below are the per-cell versions
they replaced, kept verbatim as the reference, with one deliberate
departure: a folded all-<th> row below the last grid row no longer
raises IndexError. On every table, hand-built or parsed from HTML, the
markdown, the text, the grid and the parsed cells must be byte-equal,
or both sides must raise the same exception. A last test bounds the Python-level work of a
``colspan=99999`` table, which the per-cell versions paid per column.
"""

from __future__ import annotations

import sys

from hypothesis import example, given, settings, strategies as st

from docling_spark.kernels.doc_model import TableCellData, TableDataIR
from docling_spark.kernels.dom import WATCH_FORMULA, WATCH_TABLE, TextNode, parse_html
from docling_spark.kernels.html_kernel import (
    _get_cell_spans,
    get_cell_text,
    parse_table_data,
)
from docling_spark.kernels.markdown import _format_number, _is_number, render_table
from docling_spark.kernels.textout import table_text

# ------------------------------------------------------------- the oracle


def oracle_grid(self) -> list[list[str]]:
    """Occupancy grid of cell texts (empty string where no cell)."""
    g = [["" for _ in range(self.num_cols)] for _ in range(self.num_rows)]
    for c in self.cells:
        for r in range(c.start_row, min(c.end_row, self.num_rows)):
            for k in range(c.start_col, min(c.end_col, self.num_cols)):
                g[r][k] = c.text
    return g


def oracle_render_table(table: TableDataIR) -> str:
    grid = oracle_grid(table)
    if not grid or table.num_cols == 0:
        return ""
    grid = [[cell.replace("\n", " ") for cell in row] for row in grid]
    headers = grid[0]
    body = grid[1:]

    ncols = table.num_cols
    numeric = []
    for c in range(ncols):
        # tabulate: a column is numeric only if EVERY body cell parses
        # as a number — an empty cell makes it textual (pone golden)
        vals = [row[c] for row in body]
        numeric.append(bool(vals) and all(_is_number(v) for v in vals))

    cells: list[list[str]] = []
    for row in body:
        cells.append(
            [
                _format_number(row[c]) if numeric[c] and row[c] != "" else row[c]
                for c in range(ncols)
            ]
        )

    def _visible(s: str) -> int:
        # tabulate measures via wcswidth, which returns -1 for strings
        # holding control chars (e.g. an embedded tab, csv-tab golden);
        # such cells don't widen the column and get width+1 padding
        return -1 if any(ord(ch) < 32 for ch in s) else len(s)

    widths = []
    for c in range(ncols):
        w = len(headers[c]) + 2  # tabulate MIN_PADDING on headers
        for row in cells:
            w = max(w, _visible(row[c]))
        widths.append(w)

    def _pad(s: str, w: int, right: bool) -> str:
        fill = " " * max(w - _visible(s), 0)
        return fill + s if right else s + fill

    def fmt_row(row: list[str]) -> str:
        out = []
        for c in range(ncols):
            out.append(_pad(row[c], widths[c], right=numeric[c]))
        return "| " + " | ".join(out) + " |"

    lines = [fmt_row(headers)]
    lines.append("|" + "|".join("-" * (w + 2) for w in widths) + "|")
    for row in cells:
        lines.append(fmt_row(row))
    return "\n".join(lines)


def oracle_table_text(table: TableDataIR) -> str:
    """A table as plain text: one line per grid row, its non-empty
    cells joined by ", "."""
    return "\n".join(", ".join(cell for cell in row if cell) for row in oracle_grid(table))


def oracle_parse_table_data(element):
    """reference: html_backend.py:1000-1101 (parse_table_data): two-pass
    row/col counting honoring spans + all-<th> row-header detection,
    then occupancy-grid fill with span'd text duplication."""
    if element.watch & WATCH_TABLE:
        return None  # nested table: skip (reference :1002-1005)

    # hoist the row/cell scans AND the span parse: the reference re-runs
    # soup("tr"), row(["td","th"]) and the span regexes per pass;
    # identical results, one traversal + one span parse per cell
    rows_cells = [
        (row, [(c, _get_cell_spans(c)) for c in row(["td", "th"])])
        for row in element("tr")
    ]
    has_formula = bool(element.watch & WATCH_FORMULA)

    num_rows = 0
    num_cols = 0
    for row, row_cells in rows_cells:
        col_count = 0
        is_row_header = True
        for cell, (col_span, row_span) in row_cells:
            col_count += col_span
            if cell.name == "td" or row_span == 1:
                is_row_header = False
        num_cols = max(num_cols, col_count)
        if not is_row_header:
            num_rows += 1

    grid: list[list] = [[None] * num_cols for _ in range(num_rows)]
    data = TableDataIR(num_rows=num_rows, num_cols=num_cols, cells=[])

    start_row_span = 0
    row_idx = -1
    for row, cells in rows_cells:

        col_header = True
        row_header = True
        for html_cell, (_, row_span) in cells:
            if html_cell.name == "td":
                col_header = False
                row_header = False
            elif row_span == 1:
                row_header = False
        if not row_header:
            row_idx += 1
            start_row_span = 0
        else:
            start_row_span += 1

        col_idx = 0
        for html_cell, (col_span, row_span) in cells:
            # inline-formula extraction (reference :1067-1071)
            if has_formula:
                for formula in html_cell("inline-formula"):
                    math_parts = formula.get_text().split("$$")
                    if len(math_parts) == 3:
                        formula.replace_with(TextNode(f"$${math_parts[1]}$$"))

            text = get_cell_text(html_cell).strip()
            if row_header:
                row_span -= 1
            # departs from the reference on purpose: a folded all-<th> row
            # below the last grid row raised IndexError there and failed
            # the whole document; its cells now fall outside the grid
            while (
                row_idx + start_row_span < num_rows
                and col_idx < num_cols
                and grid[row_idx + start_row_span][col_idx] is not None
            ):
                col_idx += 1
            for r in range(start_row_span, start_row_span + row_span):
                for c in range(col_span):
                    if row_idx + r < num_rows and col_idx + c < num_cols:
                        grid[row_idx + r][col_idx + c] = text

            data.cells.append(
                TableCellData(
                    text=text,
                    row_span=row_span,
                    col_span=col_span,
                    start_row=start_row_span + row_idx,
                    end_row=start_row_span + row_idx + row_span,
                    start_col=col_idx,
                    end_col=col_idx + col_span,
                    column_header=col_header,
                    row_header=((not col_header) and html_cell.name == "th"),
                )
            )

    return data


# ------------------------------------------------------------- comparison


def _outcome(fn, *args):
    try:
        return ("ok", fn(*args))
    except Exception as e:  # noqa: BLE001 — exception parity is the contract
        return ("err", type(e).__name__, str(e))


def _assert_renders_equal(table: TableDataIR) -> None:
    assert _outcome(table.grid) == _outcome(oracle_grid, table)
    assert _outcome(render_table, table) == _outcome(oracle_render_table, table)
    assert _outcome(table_text, table) == _outcome(oracle_table_text, table)


# cells a table renders differently: numbers tabulate right-aligns and
# reformats (hex, exponent, leading zeros), the non-finite values it
# leaves textual, control characters that do not widen a column, and
# newlines the markdown flattens
CELL_TEXTS = st.sampled_from(
    ["", "a", "wide", "1", "-2.5", "007", "1e3", "0x1F", "0XzZ", "inf",
     "-inf", "nan", "NaN", " 3 ", "1_000", "a\tb", "x\ny", "\n", "\x1f", "é"]
) | st.text(max_size=4)


@st.composite
def tables(draw) -> TableDataIR:
    """Spans that run past the table or start before it, empty and
    negative spans, 0-row and 0-column tables; a few texts per table so
    that spans and equal neighbours make runs of identical columns."""
    num_rows, num_cols = draw(st.integers(0, 5)), draw(st.integers(0, 7))
    texts = draw(st.lists(CELL_TEXTS, min_size=1, max_size=3))
    cells = []
    for _ in range(draw(st.integers(0, 9))):
        r0, c0 = draw(st.integers(-1, num_rows + 1)), draw(st.integers(-2, num_cols + 2))
        rs, cs = draw(st.integers(-1, num_rows + 2)), draw(st.integers(-2, num_cols + 3))
        cells.append(
            TableCellData(
                text=draw(st.sampled_from(texts)),
                row_span=rs,
                col_span=cs,
                start_row=r0,
                end_row=r0 + rs,
                start_col=c0,
                end_col=c0 + cs,
            )
        )
    return TableDataIR(num_rows, num_cols, cells)


@settings(max_examples=400, deadline=None)
@given(table=tables())
@example(table=TableDataIR(0, 0, []))
@example(table=TableDataIR(2, 0, [TableCellData("a")]))
@example(table=TableDataIR(0, 3, [TableCellData("a", end_col=3)]))
@example(table=TableDataIR(1, 3, [TableCellData("a", start_col=-2, end_col=-1)]))
@example(table=TableDataIR(2, 3, [TableCellData("a", row_span=2, end_row=2, start_col=-1, end_col=2)]))
# sizes a malformed JSON document can carry: the same error, or none
@example(table=TableDataIR(1, 2.5, []))
@example(table=TableDataIR(0, 2.5, [TableCellData("a", end_col=3)]))
@example(table=TableDataIR(2, 3, [TableCellData("a", start_col=0.0, end_col=1.0)]))
@example(table=TableDataIR(1, 3, [TableCellData("a", start_row=5, end_row=6, start_col="x")]))
@example(
    table=TableDataIR(
        2, 5, [TableCellData("wide", col_span=4, end_col=4),
               TableCellData("b", start_col=4, end_col=5),
               TableCellData("1", start_row=1, end_row=2),
               TableCellData("2", start_row=1, end_row=2, start_col=1, end_col=2)]
    )
)
def test_built_tables_render_as_the_oracle(table):
    _assert_renders_equal(table)


SPANS = st.sampled_from([None, "", "0", "1", "2", "3", "5", "x", "2x", "-1"])
HTML_TEXTS = st.sampled_from(
    ["", "a", "wide", "1", "2.5", "0x10", "nan", "x y", "a\tb", "<p>p</p>",
     "<inline-formula>$$a+b$$</inline-formula>"]
)


@st.composite
def html_tables(draw) -> str:
    """Random colspan and rowspan values (numeric, zero, malformed) and
    rows made only of <th>, which parse_table_data folds into the row
    above when their rowspans differ from 1."""
    rows = []
    for _ in range(draw(st.integers(0, 5))):
        all_th = draw(st.booleans())
        cells = []
        for _ in range(draw(st.integers(0, 4))):
            tag = "th" if all_th or draw(st.booleans()) else "td"
            attrs = "".join(
                f' {name}="{value}"'
                for name in ("colspan", "rowspan")
                if (value := draw(SPANS)) is not None
            )
            cells.append(f"<{tag}{attrs}>{draw(HTML_TEXTS)}</{tag}>")
        rows.append("<tr>" + "".join(cells) + "</tr>")
    return "<table>" + "".join(rows) + "</table>"


@settings(max_examples=300, deadline=None)
@given(html=html_tables())
@example(html='<table><tr><td colspan="7">wide</td><td>b</td></tr><tr><td>1</td><td>2</td></tr></table>')
@example(html='<table><tr><td>a</td></tr><tr><th rowspan="2">h</th></tr></table>')
@example(html='<table><tr><th rowspan="3">h</th><th rowspan="2">g</th></tr><tr><td>1</td></tr></table>')
def test_html_tables_parse_and_render_as_the_oracle(html):
    # each side parses its own tree: formula extraction edits the cells
    parsed = _outcome(parse_table_data, parse_html(html).find("table"))
    assert parsed == _outcome(oracle_parse_table_data, parse_html(html).find("table"))
    if parsed[0] == "ok" and parsed[1] is not None:
        _assert_renders_equal(parsed[1])


def test_folded_header_row_below_the_table_keeps_the_document():
    """An all-<th> row with rowspan != 1 folds into the row above, here
    a row past the grid: the page still converts, with its other text."""
    from docling_spark.operators.convert import convert_one

    html = b"<p>intro</p><table><tr><td>a</td></tr><tr><th rowspan=2>h</th></tr></table><p>after</p>"
    row = convert_one("u", html)
    assert row["status"] == "success", row["error"]
    assert "intro" in row["md"] and "after" in row["md"]


def test_colspan_table_costs_its_cells_not_its_span():
    """The pin's ``colspan=99999`` table has four cells. Parsing,
    rendering and flattening it must take a bounded number of Python
    calls; the per-cell code made about 1.8 million, one or more per
    covered grid position."""
    from tests.test_operator_pin import HOSTILE

    table = parse_html(dict(HOSTILE)["https://hostile.example.com/colspan"]).find("table")
    calls = 0

    def count(frame, event, arg):
        nonlocal calls
        if event == "call":
            calls += 1

    sys.setprofile(count)
    try:
        data = parse_table_data(table)
        md, txt = render_table(data), table_text(data)
    finally:
        sys.setprofile(None)
    assert data.num_cols == 100_000
    assert md.count(" wide ") == 99_999 and txt.startswith("wide, wide")
    assert calls < 1_000, calls
