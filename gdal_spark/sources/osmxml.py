"""OSM XML driver — the OpenStreetMap .osm planet-dump XML layout
(public OSM API 0.6 schema; reference ``ogr/ogrsf_frmts/osm/`` reads the
same via its points layer).

Layout: ``<osm version="0.6">`` → ``<node id=... lat=... lon=...>`` with
``<tag k=... v=.../>`` children; integer attributes ride as tags (the
reference exposes non-standard tags through its ``other_tags``/field
mapping the same way).  Coordinates are written with Python's
shortest-roundtrip repr so doubles survive the text container
bit-exactly (the KML/GPX/GeoJSON contract).

Spark mapping: the document kernel (``sources/_docio.py``) — one
.osm document per block on write, one decode per document on read
(executor-side ElementTree).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO


def osm_document(rows: list[dict], id_field: str,
                 tag_fields: list[str]) -> bytes:
    root = ET.Element("osm", version="0.6", generator="gdal_spark")
    for r in rows:
        node = ET.SubElement(
            root, "node", id=str(int(r[id_field])),
            lat=repr(float(r["lat"])), lon=repr(float(r["lon"])),
            version="1")
        for c in tag_fields:
            ET.SubElement(node, "tag", k=c, v=str(int(r[c])))
    return ET.tostring(root, xml_declaration=True, encoding="UTF-8")


def parse_osm(buf: bytes, id_field: str,
              tag_fields: list[str]) -> list[dict]:
    root = ET.fromstring(buf)
    if root.tag != "osm":
        raise ValueError(f"osm: root element is <{root.tag}>")
    out = []
    for node in root.iter("node"):
        row = {id_field: int(node.get("id")),
               "lat": float(node.get("lat")),
               "lon": float(node.get("lon"))}
        tags = {t.get("k"): t.get("v") for t in node.iter("tag")}
        for c in tag_fields:
            row[c] = int(tags[c])
        out.append(row)
    return out


def write_point_osm(pts: DataFrame, directory: str, id_field: str,
                    tag_fields: list[str], num_files: int = 8) -> int:
    """Distributed node sink: one .osm document per block."""

    def encode(blk, pdf):
        rows = [r._asdict() for r in
                pdf.sort_values(id_field).itertuples(index=False)]
        return {f"block-{blk:05d}.osm":
                osm_document(rows, id_field, tag_fields)}

    return DIO.write_files(pts, directory,
                           DIO.hash_key(id_field, num_files), encode)


def read_point_osm(spark: SparkSession, directory: str, id_field: str,
                   tag_fields: list[str]) -> DataFrame:
    """Distributed node scan: one decode per .osm document."""
    names = [id_field] + tag_fields
    return DIO.read_files(
        spark, f"{directory}/*.osm",
        lambda path, buf: pd.DataFrame(
            parse_osm(buf, id_field, tag_fields),
            columns=names + ["lon", "lat"]),
        DIO.point_schema(names, "lon", "lat"))
