"""GPX driver (Topografix GPX 1.1, public schema; reference
``ogr/ogrsf_frmts/gpx/ogrgpxlayer.cpp``): waypoint layers via the stdlib
XML toolchain — no expat glue.

Layout per the schema: ``<gpx xmlns="http://www.topografix.com/GPX/1/1"
version="1.1" creator=...>`` → ``<wpt lat=... lon=...>`` with ``<name>``
and an ``<extensions>`` block carrying the integer attribute payload
(the reference maps unknown fields into ``<extensions>`` the same way,
ogrgpxlayer.cpp WriteFeatureAttributes).  Coordinates are written with
Python's shortest-roundtrip repr so doubles survive the text container
BIT-EXACTLY (same contract as the KML/GeoJSON drivers).

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.gpx`` document per shard of the first attribute on write, one decode
per file on read (executor-side ElementTree).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO

_GPX_NS = "http://www.topografix.com/GPX/1/1"


def gpx_document(rows: list[dict], x: str, y: str,
                 int_fields: list[str]) -> bytes:
    """Serialize one GPX document of waypoints."""
    ET.register_namespace("", _GPX_NS)
    gpx = ET.Element(f"{{{_GPX_NS}}}gpx",
                     version="1.1", creator="gdal_spark")
    for r in rows:
        wpt = ET.SubElement(gpx, f"{{{_GPX_NS}}}wpt",
                            lat=repr(r[y]), lon=repr(r[x]))
        ET.SubElement(wpt, f"{{{_GPX_NS}}}name").text = str(
            int(r[int_fields[0]]))
        ext = ET.SubElement(wpt, f"{{{_GPX_NS}}}extensions")
        for c in int_fields:
            ET.SubElement(ext, f"{{{_GPX_NS}}}{c}").text = str(int(r[c]))
    return ET.tostring(gpx, encoding="utf-8", xml_declaration=True)


def parse_gpx(buf: bytes, int_fields: list[str]) -> list[dict]:
    """Waypoint rows back out of one GPX document (namespace-aware)."""
    root = ET.fromstring(buf)
    out = []
    for wpt in root.iter(f"{{{_GPX_NS}}}wpt"):
        rec: dict = {}
        ext = wpt.find(f"{{{_GPX_NS}}}extensions")
        for c in int_fields:
            rec[c] = int(ext.find(f"{{{_GPX_NS}}}{c}").text)
        rec["x"] = float(wpt.attrib["lon"])
        rec["y"] = float(wpt.attrib["lat"])
        out.append(rec)
    return out


def write_point_gpx(
    df: DataFrame, directory: str, x_col: str, y_col: str,
    int_fields: list[str], num_files: int,
) -> int:
    """Distributed GPX sink: one document per shard of
    ``int_fields[0]``."""
    cols = [x_col, y_col] + int_fields

    def encode(part, pdf):
        rows = [dict(zip(cols, vals)) for vals in
                pdf.sort_values(int_fields[0]).itertuples(index=False)]
        return {f"part-{part:05d}.gpx":
                gpx_document(rows, x_col, y_col, int_fields)}

    return DIO.write_files(df.select(*cols), directory,
                           DIO.hash_key(int_fields[0], num_files), encode)


def read_point_gpx(
    spark: SparkSession, directory: str, int_fields: list[str],
) -> DataFrame:
    """Distributed GPX scan: one decode per document."""
    return DIO.read_files(
        spark, f"{directory}/*.gpx",
        lambda path, buf: pd.DataFrame(parse_gpx(buf, int_fields),
                                       columns=int_fields + ["x", "y"]),
        DIO.point_schema(int_fields))
