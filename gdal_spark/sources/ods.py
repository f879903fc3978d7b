"""ODS (OpenDocument spreadsheet) vector driver — stdlib zipfile +
xml.etree codec of the PUBLIC OASIS OpenDocument format (reference
``ogr/ogrsf_frmts/ods/`` reads one table:table as one attribute-only
layer with a header row, mirrored here; the sibling of the XLSX
driver).

Package layout written (the minimal valid .ods):

* ``mimetype`` — MUST be the first zip member and STORED uncompressed
  (the OpenDocument package rule; consumers sniff bytes 30..73);
* ``META-INF/manifest.xml`` — member manifest;
* ``content.xml`` — office:spreadsheet → table:table → table:table-row
  → table:table-cell with ``office:value-type="float"`` +
  ``office:value`` (doubles serialized shortest-roundtrip, so
  coordinates survive bit-exactly) or ``value-type="string"`` + a
  text:p child.  The reader also honours
  ``table:number-columns-repeated`` so files from other producers
  parse.

Spark mapping: the document kernel (``sources/_docio.py``) — one
.ods per shard of the key on write, one decode per file on read, parsed
executor-side from the in-memory bytes."""

from __future__ import annotations

import io
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO

_MIME = "application/vnd.oasis.opendocument.spreadsheet"
_OFFICE = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
_TABLE = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
_TEXT = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_MANIFEST = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:'
    'xmlns:manifest:1.0" manifest:version="1.2">'
    f'<manifest:file-entry manifest:full-path="/" manifest:media-type='
    f'"{_MIME}"/>'
    '<manifest:file-entry manifest:full-path="content.xml" '
    'manifest:media-type="text/xml"/></manifest:manifest>'
)


def _cell(v) -> str:
    if isinstance(v, str):
        return (f'<table:table-cell office:value-type="string">'
                f"<text:p>{escape(v)}</text:p></table:table-cell>")
    return (f'<table:table-cell office:value-type="float" '
            f'office:value="{v!r}"><text:p>{v!r}</text:p>'
            "</table:table-cell>")


def ods_bytes(header: list[str], rows: list[tuple],
              table: str = "layer") -> bytes:
    body = [
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{_OFFICE}" '
        f'xmlns:table="{_TABLE}" xmlns:text="{_TEXT}" '
        'office:version="1.2"><office:body><office:spreadsheet>'
        f'<table:table table:name="{escape(table)}">'
    ]
    body.append("<table:table-row>"
                + "".join(_cell(h) for h in header) + "</table:table-row>")
    for row in rows:
        body.append("<table:table-row>"
                    + "".join(_cell(v) for v in row) + "</table:table-row>")
    body.append("</table:table></office:spreadsheet></office:body>"
                "</office:document-content>")
    content = "".join(body)

    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w") as z:
        # the OpenDocument package rule: mimetype first, STORED
        z.writestr(zipfile.ZipInfo("mimetype"), _MIME,
                   compress_type=zipfile.ZIP_STORED)
        z.writestr("META-INF/manifest.xml", _MANIFEST,
                   compress_type=zipfile.ZIP_DEFLATED)
        z.writestr("content.xml", content,
                   compress_type=zipfile.ZIP_DEFLATED)
    return bio.getvalue()


def parse_ods(buf: bytes) -> tuple[list[str], list[list]]:
    """→ (header, rows); floats via office:value, strings via text:p,
    table:number-columns-repeated expanded."""
    with zipfile.ZipFile(io.BytesIO(buf)) as z:
        if z.namelist()[0] == "mimetype" and \
                z.read("mimetype").decode() != _MIME:
            raise ValueError("ods: wrong package mimetype")
        root = ET.fromstring(z.read("content.xml"))
    rows: list[list] = []
    for tr in root.iter(f"{{{_TABLE}}}table-row"):
        cells: list = []
        for tc in tr.findall(f"{{{_TABLE}}}table-cell"):
            rep = int(tc.get(f"{{{_TABLE}}}number-columns-repeated", "1"))
            vt = tc.get(f"{{{_OFFICE}}}value-type")
            if vt == "float":
                v: object = float(tc.get(f"{{{_OFFICE}}}value"))
            elif vt == "string":
                v = "".join(p.text or ""
                            for p in tc.iter(f"{{{_TEXT}}}p"))
            else:
                v = None
            cells.extend([v] * rep)
        # drop the trailing run of empty repeated cells writers pad with
        while cells and cells[-1] is None:
            cells.pop()
        if cells:
            rows.append(cells)
    if not rows:
        return [], []
    header = [str(h) for h in rows[0]]
    width = len(header)
    return header, [r + [None] * (width - len(r)) for r in rows[1:]]


def write_point_odss(
    df: DataFrame,
    directory: str,
    x_col: str,
    y_col: str,
    int_fields: list[str],
    num_files: int,
    partition_key: str | None = None,
) -> int:
    """Distributed sink: one .ods per shard of the key; coordinates as
    shortest-roundtrip office:value floats, row 1 = header."""
    cols = int_fields + [x_col, y_col]

    def encode(part, pdf):
        rows = [tuple([float(int(v)) for v in r[:-2]]
                      + [float(r[-2]), float(r[-1])])
                for r in pdf.itertuples(index=False)]
        return {f"part-{part:05d}.ods": ods_bytes(cols, rows)}

    key = DIO.hash_key(partition_key or int_fields[0], num_files)
    return DIO.write_files(df.select(*cols), directory, key, encode)


def read_point_odss(
    spark: SparkSession,
    directory: str,
    int_fields: list[str],
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Distributed scan: one decode per .ods; header row is the schema."""

    def decode(path, buf):
        header, rows = parse_ods(buf)
        idx = [header.index(c) for c in int_fields]
        ix, iy = header.index(x_col), header.index(y_col)
        return pd.DataFrame(
            [[int(r[i]) for i in idx] + [float(r[ix]), float(r[iy])]
             for r in rows], columns=int_fields + ["x", "y"])

    return DIO.read_files(spark, f"{directory}/*.ods", decode,
                          DIO.point_schema(int_fields))
