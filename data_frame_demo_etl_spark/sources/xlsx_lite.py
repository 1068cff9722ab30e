"""Dependency-free xlsx (OOXML spreadsheet) reader/writer.

An .xlsx file is a zip of XML parts; the subset needed for tabular
ingest/export is tiny: workbook.xml (sheet names → part paths via the
rels), worksheets/sheetN.xml (rows of typed cells, ``mergeCells``),
and sharedStrings.xml (string pool real writers emit). This module
implements exactly that subset with ``zipfile`` + ``xml.etree`` so
Excel ingestion (reference ``templates.py`` semantics, merged-header
expansion included) and small-result xlsx export work without
openpyxl. The writer emits inline strings (no shared-string pool) —
valid OOXML any spreadsheet app or openpyxl can open.

Scale note: xlsx is inherently a small-file format (driver-side
per-file parse, row-capped export). The distributed story stays the
same as the openpyxl path: files parallelized via ``mapInPandas``
over the file list; this module only removes the dependency gate.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"

_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(letters: str) -> int:
    """Excel letters → 1-based column number (A→1, AA→27)."""
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - 64)
    return n


def _col_letters(n: int) -> str:
    """1-based column number → Excel letters (1→A, 27→AA)."""
    s = ""
    while n > 0:
        n, r = divmod(n - 1, 26)
        s = chr(65 + r) + s
    return s


def _parse_ref(ref: str) -> tuple[int, int]:
    """'C7' → (row=7, col=3), 1-based."""
    m = _CELL_REF.fullmatch(ref)
    if not m:
        raise ValueError(f"bad cell reference {ref!r}")
    return int(m.group(2)), _col_index(m.group(1))


def _parse_number(text: str):
    if re.fullmatch(r"-?\d+", text):
        return int(text)
    return float(text)


# ───────────────────────────── reader ─────────────────────────────


def sheet_names(path: str) -> list[str]:
    with zipfile.ZipFile(path) as zf:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
    return [s.get("name", "") for s in wb.iter(f"{_NS}sheet")]


def _sheet_part(zf: zipfile.ZipFile, sheet: int | str | None) -> str:
    """Resolve a sheet selector (index, name, or None=first) to its
    zip part path via the workbook relationships."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    targets = {}
    for rel in rels.iter(f"{_PKG_REL_NS}Relationship"):
        t = rel.get("Target", "")
        targets[rel.get("Id")] = t[1:] if t.startswith("/") else f"xl/{t}"
    sheets = []  # (name, part)
    for s in wb.iter(f"{_NS}sheet"):
        rid = s.get(f"{_REL_NS}id")
        if rid in targets:
            sheets.append((s.get("name", ""), targets[rid]))
    if not sheets:
        raise ValueError(f"{path_desc(zf)}: no worksheets")
    if sheet is None:
        return sheets[0][1]
    if isinstance(sheet, int):
        return sheets[sheet][1] if 0 <= sheet < len(sheets) else sheets[0][1]
    for name, part in sheets:
        if name == sheet:
            return part
    return sheets[0][1]


def path_desc(zf: zipfile.ZipFile) -> str:
    return getattr(zf, "filename", "<xlsx>") or "<xlsx>"


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    out = []
    for si in root.iter(f"{_NS}si"):
        # Concatenate all text runs (plain and rich-text).
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _cell_value(cell: ET.Element, shared: list[str]):
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(f"{_NS}is")
        return "".join(t.text or "" for t in is_el.iter(f"{_NS}t")) if is_el is not None else ""
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if ctype == "s":
        return shared[int(v.text)]
    if ctype == "str":
        return v.text
    if ctype == "b":
        return v.text == "1"
    return _parse_number(v.text)


def read_grid(
    path: str, sheet: int | str | None = None
) -> tuple[list[list], list[tuple[int, int, int, int, object]]]:
    """Read one worksheet as a dense row-major grid (lists padded with
    None) plus its merged ranges as (min_row, min_col, max_row,
    max_col, top_left_value) 1-based tuples — the exact input
    ``expand_merged_headers`` wants."""
    with zipfile.ZipFile(path) as zf:
        part = _sheet_part(zf, sheet)
        shared = _shared_strings(zf)
        root = ET.fromstring(zf.read(part))

    cells: dict[tuple[int, int], object] = {}
    max_row = max_col = 0
    for row_el in root.iter(f"{_NS}row"):
        for cell in row_el.iter(f"{_NS}c"):
            ref = cell.get("r")
            if ref is None:
                continue
            r, c = _parse_ref(ref)
            val = _cell_value(cell, shared)
            if val is not None:
                cells[(r, c)] = val
                max_row = max(max_row, r)
                max_col = max(max_col, c)

    grid = [[cells.get((r, c)) for c in range(1, max_col + 1)] for r in range(1, max_row + 1)]

    merges = []
    for m in root.iter(f"{_NS}mergeCell"):
        ref = m.get("ref", "")
        if ":" not in ref:
            continue
        a, b = ref.split(":", 1)
        (r1, c1), (r2, c2) = _parse_ref(a), _parse_ref(b)
        base = cells.get((r1, c1))
        merges.append((r1, c1, r2, c2, base))
    return grid, merges


# ───────────────────────────── writer ─────────────────────────────

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
{sheet_overrides}</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _cell_xml(ref: str, value) -> str:
    if isinstance(value, bool):
        return f'<c r="{ref}" t="b"><v>{1 if value else 0}</v></c>'
    if isinstance(value, (int, float)):
        return f'<c r="{ref}"><v>{value!r}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{escape(str(value))}</t></is></c>'


def write_xlsx(
    path: str,
    sheets: dict[str, list[list]] | list[list],
    merges: dict[str, list[str]] | list[str] | None = None,
) -> None:
    """Write rows to an xlsx file.

    ``sheets``: either a single grid (list of row lists → one sheet
    named "Sheet1") or an ordered {name: grid} dict. ``merges``:
    optional merge ranges ("A1:C1") per sheet (same shape as
    ``sheets``). None cells are skipped; str/int/float/bool typed.
    """
    if isinstance(sheets, list):
        sheets = {"Sheet1": sheets}
        if isinstance(merges, list):
            merges = {"Sheet1": merges}
    merges = merges or {}

    names = list(sheets)
    sheet_overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(len(names))
    )
    wb_sheets = "".join(
        f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(names)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )

    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml", _CONTENT_TYPES.format(sheet_overrides=sheet_overrides)
        )
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, name in enumerate(names):
            rows_xml = []
            for r, row in enumerate(sheets[name], start=1):
                cells = "".join(
                    _cell_xml(f"{_col_letters(c)}{r}", v)
                    for c, v in enumerate(row, start=1)
                    if v is not None
                )
                rows_xml.append(f'<row r="{r}">{cells}</row>')
            merge_xml = ""
            sheet_merges = merges.get(name, [])
            if sheet_merges:
                merge_xml = (
                    f'<mergeCells count="{len(sheet_merges)}">'
                    + "".join(f'<mergeCell ref="{m}"/>' for m in sheet_merges)
                    + "</mergeCells>"
                )
            zf.writestr(
                f"xl/worksheets/sheet{i + 1}.xml",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                f"<sheetData>{''.join(rows_xml)}</sheetData>{merge_xml}</worksheet>",
            )
