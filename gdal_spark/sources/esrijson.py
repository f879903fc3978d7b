"""ESRI JSON driver — the ArcGIS REST API FeatureSet JSON layout
(public Esri "featureSet" spec; reference
``ogr/ogrsf_frmts/geojson/ogresrijsonreader.cpp``).

Layout: ``{"geometryType": "esriGeometryPoint", "spatialReference":
{"wkid": 4326}, "fields": [...], "features": [{"attributes": {...},
"geometry": {"x": ..., "y": ...}}]}`` — geometry keyed per type instead
of GeoJSON's coordinates array, attributes in a flat object.

Spark mapping: ``to_json`` renders the features on write (JVM Jackson
shortest-roundtrip doubles) and the document kernel
(``sources/_docio.py``) writes one document per block; the read is one
task per document with a typed ``from_json`` schema.  Zero Python in the
feature path.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _docio as DIO


def write_point_featuresets(pts: DataFrame, directory: str,
                            int_fields: list[str], num_files: int = 8,
                            x_col: str = "lon", y_col: str = "lat") -> int:
    """Distributed FeatureSet sink: one JSON document per block; the
    feature objects are rendered by JVM ``to_json`` and only the bounded
    per-block envelope assembly happens in the kernel."""
    feat = F.to_json(F.struct(
        F.struct(*[F.col(c) for c in int_fields]).alias("attributes"),
        F.struct(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .alias("geometry")))
    fields = [{"name": c, "type": "esriFieldTypeInteger"}
              for c in int_fields]
    head = json.dumps({
        "geometryType": "esriGeometryPoint",
        "spatialReference": {"wkid": 4326},
        "fields": fields,
    }, separators=(",", ":"))[:-1]  # re-opened to splice "features"

    def encode(blk, pdf):
        feats = ",".join(pdf.sort_values("_k")["feat"])
        return {f"block-{blk:05d}.json":
                (head + ',"features":[' + feats + "]}").encode()}

    return DIO.write_files(
        pts.select(F.col(int_fields[0]).alias("_k"), feat.alias("feat")),
        directory, DIO.hash_key("_k", num_files), encode)


def read_point_featuresets(spark: SparkSession, directory: str,
                           int_fields: list[str]) -> DataFrame:
    """Distributed FeatureSet scan: multiLine JSON source + explode —
    the typed-schema path, attributes and geometry parsed JVM-side."""
    attr_schema = ", ".join(f"{c}: bigint" for c in int_fields)
    schema = (f"geometryType string, features array<struct<"
              f"attributes: struct<{attr_schema}>, "
              f"geometry: struct<x: double, y: double>>>")
    doc = spark.read.option("multiLine", True).schema(schema) \
        .json(f"{directory}/*.json")
    f = F.explode("features").alias("f")
    out = doc.select(f).select(
        *[F.col(f"f.attributes.{c}").alias(c) for c in int_fields],
        F.col("f.geometry.x").alias("x"), F.col("f.geometry.y").alias("y"))
    return out
