"""XLSX (Office Open XML spreadsheet) vector driver — stdlib zipfile +
xml.etree codec of the PUBLIC ECMA-376 SpreadsheetML package format
(reference ``ogr/ogrsf_frmts/xlsx/`` treats one worksheet as one
attribute-only layer with a header row, which is exactly what this
driver implements).

Package layout written (the minimal valid .xlsx):

* ``[Content_Types].xml`` — content-type map
* ``_rels/.rels`` — package rel → ``xl/workbook.xml``
* ``xl/workbook.xml`` — one ``<sheet>`` per layer
* ``xl/_rels/workbook.xml.rels`` — rId → ``worksheets/sheet1.xml``
* ``xl/worksheets/sheet1.xml`` — ``<sheetData>`` rows; row 1 = header.

Cells: numbers as plain ``<v>`` (doubles serialized shortest-roundtrip
via repr, so coordinates survive bit-exactly); strings as
``t="inlineStr"`` (self-contained — no sharedStrings part needed,
which the reference reader also accepts).

Spark mapping: the document kernel (``sources/_docio.py``) — one
.xlsx per shard of the key on write (a zip is one writer), one decode
per file on read, parsed executor-side from the in-memory bytes (zipfile
over BytesIO — no temp files).
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_CT = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
    'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
    '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
    'worksheet+xml"/>'
    "</Types>"
)
_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="xl/workbook.xml"/></Relationships>'
)
_WB = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<workbook xmlns="{_NS}" xmlns:r="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships">'
    '<sheets><sheet name="{name}" sheetId="1" r:id="rId1"/></sheets>'
    "</workbook>"
)
_WB_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/worksheet" '
    'Target="worksheets/sheet1.xml"/></Relationships>'
)


def col_letter(idx: int) -> str:
    """0-based column index → A1-notation letters (0→A, 26→AA)."""
    out = ""
    idx += 1
    while idx:
        idx, r = divmod(idx - 1, 26)
        out = chr(ord("A") + r) + out
    return out


def letter_col(ref: str) -> int:
    """A1-notation cell ref → 0-based column index (row digits ignored)."""
    n = 0
    for ch in ref:
        if ch.isdigit():
            break
        n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
    return n - 1


def _cell_xml(ref: str, v) -> str:
    if isinstance(v, str):
        return (f'<c r="{ref}" t="inlineStr"><is><t>{escape(v)}</t></is>'
                "</c>")
    if isinstance(v, float):
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    return f'<c r="{ref}"><v>{int(v)}</v></c>'


def xlsx_bytes(header: list[str], rows: list[tuple],
               sheet: str = "layer") -> bytes:
    """Serialize one worksheet package (row 1 = header)."""
    parts = [f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             f'<worksheet xmlns="{_NS}"><sheetData>']
    parts.append(
        '<row r="1">'
        + "".join(_cell_xml(f"{col_letter(i)}1", h)
                  for i, h in enumerate(header))
        + "</row>")
    for rix, row in enumerate(rows, start=2):
        parts.append(
            f'<row r="{rix}">'
            + "".join(_cell_xml(f"{col_letter(i)}{rix}", v)
                      for i, v in enumerate(row))
            + "</row>")
    parts.append("</sheetData></worksheet>")
    sheet_xml = "".join(parts)

    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("_rels/.rels", _RELS)
        z.writestr("xl/workbook.xml", _WB.replace("{name}", escape(sheet)))
        z.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        z.writestr("xl/worksheets/sheet1.xml", sheet_xml)
    return bio.getvalue()


def parse_xlsx(buf: bytes) -> tuple[list[str], list[list]]:
    """→ (header, rows).  Numbers come back as float/int, inline strings
    as str; sharedStrings (``t="s"``) is also honoured so files written
    by other producers parse."""
    with zipfile.ZipFile(io.BytesIO(buf)) as z:
        names = z.namelist()
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{{{_NS}}}si"):
                shared.append("".join(
                    t.text or "" for t in si.iter(f"{{{_NS}}}t")))
        sheet_name = next(
            n for n in names
            if re.match(r"xl/worksheets/sheet\d+\.xml$", n))
        root = ET.fromstring(z.read(sheet_name))
    out: list[list] = []
    for row in root.iter(f"{{{_NS}}}row"):
        cells: list = []
        for c in row.findall(f"{{{_NS}}}c"):
            col = letter_col(c.get("r", ""))
            while len(cells) <= col:
                cells.append(None)
            t = c.get("t", "n")
            if t == "inlineStr":
                cells[col] = "".join(
                    e.text or "" for e in c.iter(f"{{{_NS}}}t"))
            elif t == "s":
                v = c.find(f"{{{_NS}}}v")
                cells[col] = shared[int(v.text)] if v is not None else None
            else:
                v = c.find(f"{{{_NS}}}v")
                if v is not None and v.text is not None:
                    f_ = float(v.text)
                    cells[col] = int(f_) if f_.is_integer() and \
                        "." not in v.text and "e" not in v.text.lower() \
                        else f_
        out.append(cells)
    if not out:
        return [], []
    header = [str(h) for h in out[0]]
    width = len(header)
    return header, [r + [None] * (width - len(r)) for r in out[1:]]


def write_point_xlsxs(
    df: DataFrame,
    directory: str,
    x_col: str,
    y_col: str,
    int_fields: list[str],
    num_files: int,
    sheet: str = "layer",
    partition_key: str | None = None,
) -> int:
    """Distributed sink: one .xlsx per shard of the key.  Coordinates
    ride as shortest-roundtrip decimal numbers, attributes as integer
    cells; row 1 is the header."""
    cols = int_fields + [x_col, y_col]

    def encode(part, pdf):
        rows = [tuple([int(v) for v in r[:-2]]
                      + [float(r[-2]), float(r[-1])])
                for r in pdf.itertuples(index=False)]
        return {f"part-{part:05d}.xlsx": xlsx_bytes(cols, rows, sheet=sheet)}

    key = DIO.hash_key(partition_key or int_fields[0], num_files)
    return DIO.write_files(df.select(*cols), directory, key, encode)


def read_point_xlsxs(
    spark: SparkSession,
    directory: str,
    int_fields: list[str],
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Distributed scan: binaryFile bytes → executor-side zip + XML parse
    → typed columns (header row consumed as the schema; the writer's
    original column names are looked up in it)."""

    def decode(path, buf):
        header, rows = parse_xlsx(buf)
        idx = [header.index(c) for c in int_fields]
        ix, iy = header.index(x_col), header.index(y_col)
        return pd.DataFrame(
            [[int(r[i]) for i in idx] + [float(r[ix]), float(r[iy])]
             for r in rows], columns=int_fields + ["x", "y"])

    return DIO.read_files(spark, f"{directory}/*.xlsx", decode,
                          DIO.point_schema(int_fields))
