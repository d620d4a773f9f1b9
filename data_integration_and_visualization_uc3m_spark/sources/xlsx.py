"""XLSX ingest bridge (SURVEY.md §2.1, S4).

PySpark has no core XLSX reader; the idiomatic bridge is a driver-side
parse → an Arrow-built local relation (``readers.local_frame``). The
reference reads with the real header on spreadsheet row 3
(``header=2``, ``crime_immigration_etl.py:136-142``).

One parser: an .xlsx is a zip of XML parts, so ``zipfile`` +
``xml.etree`` read the worksheet directly (shared strings, inline
strings, numbers, booleans). No third-party deps, so S4 always
executes; the frame reaches Spark as a ``LocalTableScan``.

For many/huge XLSX files at scale, distribute by file: parallelize the
path list and parse per-partition with the stdlib parser (pure-python,
picklable); the reference's single workbook doesn't need it.
"""

from __future__ import annotations

import re
import zipfile
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .readers import local_frame

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


class XlsxUnavailable(ImportError):
    pass


def _col_index(cell_ref: str) -> int:
    """'A1' → 0, 'B3' → 1, 'AA7' → 26 (0-based column index)."""
    idx = 0
    for ch in cell_ref:
        if ch.isdigit():
            break
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _col_letter(idx: int) -> str:
    """0 → 'A', 25 → 'Z', 26 → 'AA' (inverse of :func:`_col_index`)."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def parse_xlsx_rows(path: str, sheet: int = 0) -> list[list]:
    """Stdlib .xlsx parser: returns the sheet as a dense list of rows
    (ragged rows right-padded with None up to the widest row). Handles
    shared strings (``t="s"``), inline strings (``t="inlineStr"``),
    formula-cached strings (``t="str"``), booleans (``t="b"``) and
    numbers (int when integral, else float)."""
    with zipfile.ZipFile(path) as zf:
        names = zf.namelist()
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
        sheets = sorted(
            (n for n in names
             if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
            key=lambda n: int(re.search(r"(\d+)\.xml$", n).group(1)),
        )
        if not sheets:
            raise XlsxUnavailable(f"no worksheets found in {path}")
        root = ET.fromstring(zf.read(sheets[sheet]))

    rows: list[list] = []
    for row_el in root.iter(f"{_NS}row"):
        row_num = int(row_el.get("r", len(rows) + 1))
        while len(rows) < row_num - 1:
            rows.append([])
        cells: list = []
        for c in row_el.findall(f"{_NS}c"):
            ref = c.get("r")
            col = _col_index(ref) if ref else len(cells)
            while len(cells) < col:
                cells.append(None)
            ctype = c.get("t", "n")
            v = c.find(f"{_NS}v")
            if ctype == "inlineStr":
                is_el = c.find(f"{_NS}is")
                val = (
                    "".join(t.text or "" for t in is_el.iter(f"{_NS}t"))
                    if is_el is not None else None
                )
            elif v is None or v.text is None:
                val = None
            elif ctype == "s":
                val = shared[int(v.text)]
            elif ctype == "str":
                val = v.text
            elif ctype == "b":
                val = v.text == "1"
            else:
                f = float(v.text)
                val = int(f) if f.is_integer() else f
            cells.append(val)
        rows.append(cells)
    width = max((len(r) for r in rows), default=0)
    return [r + [None] * (width - len(r)) for r in rows]


def _xml_attr(s: str) -> str:
    return (str(s).replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def write_xlsx(rows: list[list], path: str, sheet_name: str = "Sheet1") -> None:
    """Minimal stdlib .xlsx writer (numbers + inline strings + bools).
    Used for fixtures and as a tiny driver-side egress for workbook
    consumers; large egress belongs in parquet/CSV sinks."""
    def cell_xml(r: int, c: int, val) -> str:
        ref = f"{_col_letter(c)}{r + 1}"
        if val is None:
            return ""
        if isinstance(val, bool):
            return f'<c r="{ref}" t="b"><v>{1 if val else 0}</v></c>'
        if isinstance(val, (int, float)):
            return f'<c r="{ref}"><v>{val}</v></c>'
        s = (str(val).replace("&", "&amp;").replace("<", "&lt;")
             .replace(">", "&gt;"))
        return f'<c r="{ref}" t="inlineStr"><is><t>{s}</t></is></c>'

    sheet_rows = "".join(
        f'<row r="{i + 1}">{"".join(cell_xml(i, j, v) for j, v in enumerate(row))}</row>'
        for i, row in enumerate(rows)
    )
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            f'<sheets><sheet name="{_xml_attr(sheet_name)}" sheetId="1" r:id="rId1"/></sheets>'
            "</workbook>"
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>"
        ),
        "xl/worksheets/sheet1.xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"<sheetData>{sheet_rows}</sheetData></worksheet>"
        ),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, xml in parts.items():
            zf.writestr(name, xml)


def read_xlsx(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header_row: int = 0,
) -> DataFrame:
    """S4 — XLSX scan with header offset (header_row=2 ⇒ spreadsheet
    row 3, matching pandas ``header=2``; crime_immigration_etl.py:141),
    parsed by :func:`parse_xlsx_rows`. The rows under the header become
    a local relation (``readers.local_frame``) with the declared
    ``schema``; a header-only sheet gives the empty frame. A
    ``header_row`` past the last row, or a schema field the header row
    lacks, raises :class:`XlsxUnavailable`."""
    rows = parse_xlsx_rows(path)
    if header_row >= len(rows):
        raise XlsxUnavailable(
            f"header_row={header_row} beyond sheet ({len(rows)} rows)"
        )
    header = [str(c) for c in rows[header_row]]
    missing = [f.name for f in schema.fields if f.name not in header]
    if missing:
        raise XlsxUnavailable(f"header row {header_row} lacks {missing}")
    return local_frame(
        spark, [dict(zip(header, r)) for r in rows[header_row + 1:]], schema
    )
