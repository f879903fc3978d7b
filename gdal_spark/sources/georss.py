"""GeoRSS driver — RSS 2.0 + GeoRSS-Simple point encoding (public
GeoRSS spec; reference ``ogr/ogrsf_frmts/georss/ogrgeorsslayer.cpp``,
which maps unrecognized ``<item>`` child elements to layer fields the
same generic way).

Layout: ``<rss version="2.0" xmlns:georss="http://www.georss.org/georss">
→ <channel> → <item>`` with ``<georss:point>LAT LON</georss:point>``
(latitude FIRST, the spec's big gotcha) and integer attributes as plain
child elements.  Coordinates are written with Python's
shortest-roundtrip repr so doubles survive bit-exactly.

Spark mapping: the document kernel (``sources/_docio.py``) — one RSS
document per block on write, one decode per document on read
(executor-side ElementTree).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO

_GEORSS_NS = "http://www.georss.org/georss"


def georss_document(rows: list[dict], int_fields: list[str]) -> bytes:
    ET.register_namespace("georss", _GEORSS_NS)
    rss = ET.Element("rss", version="2.0")
    chan = ET.SubElement(rss, "channel")
    ET.SubElement(chan, "title").text = "gdal_spark layer"
    for r in rows:
        item = ET.SubElement(chan, "item")
        for c in int_fields:
            ET.SubElement(item, c).text = str(int(r[c]))
        ET.SubElement(item, f"{{{_GEORSS_NS}}}point").text = \
            f"{float(r['lat'])!r} {float(r['lon'])!r}"
    return ET.tostring(rss, xml_declaration=True, encoding="UTF-8")


def parse_georss(buf: bytes, int_fields: list[str]) -> list[dict]:
    root = ET.fromstring(buf)
    if root.tag != "rss":
        raise ValueError(f"georss: root element is <{root.tag}>")
    out = []
    for item in root.iter("item"):
        pt = item.find(f"{{{_GEORSS_NS}}}point")
        if pt is None:
            raise ValueError("georss: item without georss:point")
        lat_s, lon_s = pt.text.split()
        row = {"lat": float(lat_s), "lon": float(lon_s)}
        for c in int_fields:
            row[c] = int(item.find(c).text)
        out.append(row)
    return out


def write_point_georss(pts: DataFrame, directory: str,
                       int_fields: list[str], num_files: int = 8) -> int:
    """Distributed item sink: one RSS document per block."""

    def encode(blk, pdf):
        rows = [r._asdict() for r in
                pdf.sort_values(int_fields[0]).itertuples(index=False)]
        return {f"block-{blk:05d}.xml": georss_document(rows, int_fields)}

    return DIO.write_files(pts, directory,
                           DIO.hash_key(int_fields[0], num_files), encode)


def read_point_georss(spark: SparkSession, directory: str,
                      int_fields: list[str]) -> DataFrame:
    """Distributed item scan: one decode per RSS document."""
    names = int_fields + ["lon", "lat"]
    return DIO.read_files(
        spark, f"{directory}/*.xml",
        lambda path, buf: pd.DataFrame(parse_georss(buf, int_fields),
                                       columns=names),
        DIO.point_schema(int_fields, "lon", "lat"))
