"""GML driver (OGC GML 3.2 Simple Features, public spec; reference
``ogr/ogrsf_frmts/gml/`` — GMLReader/OGRGMLDataSource semantics, no Xerces
or Expat code).

Layout follows OGR's own GML writer: an ``ogr:FeatureCollection`` root,
one ``ogr:featureMember`` per feature wrapping a layer-named element with
the attribute children and a ``ogr:geometryProperty`` carrying a
``gml:Point``.

GML 3.2 AXIS ORDER: with an ``urn:ogc:def:crs:EPSG::4326`` srsName the
spec (and OGR — see ``ogr/ogrsf_frmts/gml/ogrgmllayer.cpp``'s
bInvertAxisOrderIfLatLong / the GML_INVERT_AXIS_ORDER_IF_LAT_LONG config)
mandates LATITUDE-FIRST coordinates in ``<gml:pos>``.  This driver writes
the urn form, emits ``pos`` as "lat lon", and swaps back to (x=lon, y=lat)
on read — the famous GML3 axis-order behavior, exercised by the gate
because any missing swap flips every coordinate pair.

Coordinates are written with Python's shortest-roundtrip repr, so doubles
survive the text container BIT-EXACTLY (the same contract as the GeoJSON /
KML drivers).

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.gml`` document per shard of the first attribute on write, one decode
per file on read (executor-side ElementTree).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO

_GML_NS = "http://www.opengis.net/gml/3.2"
_OGR_NS = "http://ogr.maptools.org/"
_SRS_URN = "urn:ogc:def:crs:EPSG::4326"


def gml_document(rows: list[dict], x: str, y: str,
                 int_fields: list[str], layer: str = "layer") -> bytes:
    """Serialize one GML 3.2 FeatureCollection of Point features
    (lat-first ``gml:pos`` per the urn axis order)."""
    ET.register_namespace("gml", _GML_NS)
    ET.register_namespace("ogr", _OGR_NS)
    fc = ET.Element(f"{{{_OGR_NS}}}FeatureCollection")
    for n, r in enumerate(rows):
        fm = ET.SubElement(fc, f"{{{_OGR_NS}}}featureMember")
        ft = ET.SubElement(fm, f"{{{_OGR_NS}}}{layer}")
        ft.set(f"{{{_GML_NS}}}id", f"{layer}.{n}")
        gp = ET.SubElement(ft, f"{{{_OGR_NS}}}geometryProperty")
        pt = ET.SubElement(gp, f"{{{_GML_NS}}}Point", srsName=_SRS_URN)
        pt.set(f"{{{_GML_NS}}}id", f"{layer}.geom.{n}")
        # urn:...EPSG::4326 => latitude first
        ET.SubElement(pt, f"{{{_GML_NS}}}pos").text = f"{r[y]!r} {r[x]!r}"
        for c in int_fields:
            ET.SubElement(ft, f"{{{_OGR_NS}}}{c}").text = str(int(r[c]))
    return ET.tostring(fc, encoding="utf-8", xml_declaration=True)


def parse_gml(buf: bytes, int_fields: list[str]) -> list[dict]:
    """Feature rows back out of one GML document; undoes the urn
    lat-first axis order so callers always see (x=lon, y=lat)."""
    root = ET.fromstring(buf)
    out = []
    for fm in root.iter(f"{{{_OGR_NS}}}featureMember"):
        feat = fm[0]
        rec: dict = {}
        for c in int_fields:
            el = feat.find(f"{{{_OGR_NS}}}{c}")
            rec[c] = int(el.text)
        pt = feat.find(
            f"{{{_OGR_NS}}}geometryProperty/{{{_GML_NS}}}Point")
        lat_first = (pt.get("srsName") or "").startswith("urn:")
        a_s, b_s = pt.find(f"{{{_GML_NS}}}pos").text.strip().split()[:2]
        a, b = float(a_s), float(b_s)
        rec["x"], rec["y"] = (b, a) if lat_first else (a, b)
        out.append(rec)
    return out


def write_point_gmls(
    df: DataFrame, directory: str, x_col: str, y_col: str,
    int_fields: list[str], num_files: int,
) -> int:
    """Distributed GML sink: one FeatureCollection per shard of
    ``int_fields[0]``."""
    cols = [x_col, y_col] + int_fields

    def encode(part, pdf):
        rows = [dict(zip(cols, vals)) for vals in
                pdf.sort_values(int_fields[0]).itertuples(index=False)]
        return {f"part-{part:05d}.gml":
                gml_document(rows, x_col, y_col, int_fields)}

    return DIO.write_files(df.select(*cols), directory,
                           DIO.hash_key(int_fields[0], num_files), encode)


def read_point_gmls(
    spark: SparkSession, directory: str, int_fields: list[str],
) -> DataFrame:
    """Distributed GML scan: one decode per document."""
    return DIO.read_files(
        spark, f"{directory}/*.gml",
        lambda path, buf: pd.DataFrame(parse_gml(buf, int_fields),
                                       columns=int_fields + ["x", "y"]),
        DIO.point_schema(int_fields))
