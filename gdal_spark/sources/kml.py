"""KML driver (OGC KML 2.2, public spec; reference
``ogr/ogrsf_frmts/kml/`` + ``libkml/``): Placemark point layers via the
stdlib XML toolchain — no libkml.

Layout per the spec: ``<kml xmlns="http://www.opengis.net/kml/2.2">`` →
``<Document>`` → ``<Placemark>`` with ``<name>``, ``<ExtendedData>``
``<Data name=...><value>...</value></Data>`` attribute payload and
``<Point><coordinates>lon,lat</coordinates></Point>`` geometry.
Coordinates are written with Python's shortest-roundtrip repr, so doubles
survive the text container BIT-EXACTLY (same contract as the GeoJSON
driver's Jackson decimals).

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.kml`` document per shard of the first attribute on write, one decode
per file on read (executor-side ElementTree).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO

_KML_NS = "http://www.opengis.net/kml/2.2"


def kml_document(rows: list[dict], x: str, y: str,
                 int_fields: list[str]) -> bytes:
    """Serialize one KML Document of Point Placemarks."""
    ET.register_namespace("", _KML_NS)
    kml = ET.Element(f"{{{_KML_NS}}}kml")
    doc = ET.SubElement(kml, f"{{{_KML_NS}}}Document")
    for r in rows:
        pm = ET.SubElement(doc, f"{{{_KML_NS}}}Placemark")
        ET.SubElement(pm, f"{{{_KML_NS}}}name").text = str(
            int(r[int_fields[0]]))
        ext = ET.SubElement(pm, f"{{{_KML_NS}}}ExtendedData")
        for c in int_fields:
            d = ET.SubElement(ext, f"{{{_KML_NS}}}Data", name=c)
            ET.SubElement(d, f"{{{_KML_NS}}}value").text = str(int(r[c]))
        pt = ET.SubElement(pm, f"{{{_KML_NS}}}Point")
        ET.SubElement(pt, f"{{{_KML_NS}}}coordinates").text = \
            f"{r[x]!r},{r[y]!r}"
    return ET.tostring(kml, encoding="utf-8", xml_declaration=True)


def parse_kml(buf: bytes, int_fields: list[str]) -> list[dict]:
    """Placemark rows back out of one KML document (namespace-aware)."""
    root = ET.fromstring(buf)
    out = []
    for pm in root.iter(f"{{{_KML_NS}}}Placemark"):
        rec: dict = {}
        for data in pm.iter(f"{{{_KML_NS}}}Data"):
            name = data.attrib["name"]
            if name in int_fields:
                rec[name] = int(data.find(f"{{{_KML_NS}}}value").text)
        coords = pm.find(
            f"{{{_KML_NS}}}Point/{{{_KML_NS}}}coordinates").text
        lon_s, lat_s = coords.strip().split(",")[:2]
        rec["x"], rec["y"] = float(lon_s), float(lat_s)
        out.append(rec)
    return out


def write_point_kmls(
    df: DataFrame, directory: str, x_col: str, y_col: str,
    int_fields: list[str], num_files: int,
) -> int:
    """Distributed KML sink: one document per shard of ``int_fields[0]``."""
    cols = [x_col, y_col] + int_fields

    def encode(part, pdf):
        rows = [dict(zip(cols, vals)) for vals in
                pdf.sort_values(int_fields[0]).itertuples(index=False)]
        return {f"part-{part:05d}.kml":
                kml_document(rows, x_col, y_col, int_fields)}

    return DIO.write_files(df.select(*cols), directory,
                           DIO.hash_key(int_fields[0], num_files), encode)


def read_point_kmls(
    spark: SparkSession, directory: str, int_fields: list[str],
) -> DataFrame:
    """Distributed KML scan: one decode per document."""
    return DIO.read_files(
        spark, f"{directory}/*.kml",
        lambda path, buf: pd.DataFrame(parse_kml(buf, int_fields),
                                       columns=int_fields + ["x", "y"]),
        DIO.point_schema(int_fields))
