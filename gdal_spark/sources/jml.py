"""OGR JML (OpenJUMP JML) driver — from-scratch codec of the PUBLIC
OpenJUMP JML dialect as the reference writes it
(``ogr/ogrsf_frmts/jml/ogrjmlwriterlayer.cpp``).

A JML file is a self-describing XML document:

* ``<JCSGMLInputTemplate>`` names the collection/feature/geometry
  elements and declares every column
  (ogrjmlwriterlayer.cpp:49-58,122-133):

      <column><name>N</name><type>INTEGER</type>
        <valueElement elementName="property" attributeName="name"
                      attributeValue="N"/>
        <valueLocation position="body"/></column>

* ``<featureCollection>`` holds ``<featureMember><feature>`` entries;
  each carries a ``<geometry>`` with inline GML
  (``gml:Point``/``gml:coordinates`` with ``decimal="." cs="," ts=" "``
  — x,y pairs, x first) and one ``<property name="N">value</property>``
  per column (ogrjmlwriterlayer.cpp:179-221).

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.jml`` shard per shard of the key on write, one decode per shard on
read (executor-side regex parse — the dialect above, not a general XML
parser)."""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO

_TEMPLATE_HEAD = (
    "<?xml version='1.0' encoding='UTF-8'?>\n"
    "<JCSDataFile xmlns:gml=\"http://www.opengis.net/gml\" "
    "xmlns:xsi=\"http://www.w3.org/2000/10/XMLSchema-instance\" >\n"
    "<JCSGMLInputTemplate>\n"
    "<CollectionElement>featureCollection</CollectionElement>\n"
    "<FeatureElement>feature</FeatureElement>\n"
    "<GeometryElement>geometry</GeometryElement>\n"
    "<CRSElement>boundedBy</CRSElement>\n"
    "<ColumnDefinitions>\n"
)


def _column_decl(name: str, jml_type: str) -> str:
    return (
        "     <column>\n"
        f"          <name>{name}</name>\n"
        f"          <type>{jml_type}</type>\n"
        f"          <valueElement elementName=\"property\" "
        f"attributeName=\"name\" attributeValue=\"{name}\"/>\n"
        "          <valueLocation position=\"body\"/>\n"
        "     </column>\n"
    )


def points_jml_bytes(pdf: pd.DataFrame, x_col: str, y_col: str,
                     int_fields: list[str]) -> bytes:
    out = [_TEMPLATE_HEAD]
    for c in int_fields:
        out.append(_column_decl(c, "INTEGER"))
    out.append(
        "</ColumnDefinitions>\n</JCSGMLInputTemplate>\n"
        "<featureCollection>\n"
        "  <gml:boundedBy>\n"
        "    <gml:Box>\n"
        "      <gml:coordinates decimal=\".\" cs=\",\" ts=\" \">"
        "0.00,0.00 -1.00,-1.00</gml:coordinates>\n"
        "    </gml:Box>\n"
        "  </gml:boundedBy>\n"
    )
    for r in pdf.itertuples(index=False):
        out.append("   <featureMember>\n     <feature>\n"
                   "          <geometry>\n")
        out.append(
            f"                <gml:Point><gml:coordinates "
            f"decimal=\".\" cs=\",\" ts=\" \">"
            f"{getattr(r, x_col)!r},{getattr(r, y_col)!r}"
            "</gml:coordinates></gml:Point>\n")
        out.append("          </geometry>\n")
        for c in int_fields:
            out.append(f"          <property name=\"{c}\">"
                       f"{int(getattr(r, c))}</property>\n")
        out.append("     </feature>\n   </featureMember>\n")
    out.append("</featureCollection>\n</JCSDataFile>\n")
    return "".join(out).encode("utf-8")


_FEAT_RE = re.compile(r"<feature>(.*?)</feature>", re.S)
_COORD_RE = re.compile(r"<gml:coordinates[^>]*>([^<]+)</gml:coordinates>")
_PROP_RE = re.compile(r"<property name=\"([^\"]+)\">([^<]*)</property>")


def parse_jml(buf: bytes, int_fields: list[str]) -> list[dict]:
    """Parse the dialect written above: template columns are
    cross-checked against ``int_fields``; coordinates split on the
    declared cs=',' within a pair."""
    text = buf.decode("utf-8")
    if "<JCSGMLInputTemplate>" not in text:
        raise ValueError("jml: missing JCSGMLInputTemplate")
    declared = re.findall(r"<name>([^<]+)</name>", text)
    missing = [c for c in int_fields if c not in declared]
    if missing:
        raise ValueError(f"jml: columns not declared: {missing}")
    body = text.split("</gml:boundedBy>", 1)[-1]
    recs = []
    for m in _FEAT_RE.finditer(body):
        feat = m.group(1)
        cm = _COORD_RE.search(feat)
        if cm is None:
            raise ValueError("jml: feature without gml:coordinates")
        xs, ys = cm.group(1).strip().split(" ")[0].split(",")[:2]
        rec = {"x": float(xs), "y": float(ys)}
        props = dict(_PROP_RE.findall(feat))
        for c in int_fields:
            rec[c] = int(props[c])
        recs.append(rec)
    return recs


def write_point_jmls(
    df: DataFrame, directory: str, x_col: str, y_col: str,
    int_fields: list[str], num_files: int,
    partition_key: str | None = None,
) -> int:
    """Distributed Point sink: one .jml per shard of the key."""
    key = DIO.hash_key(partition_key or int_fields[0], num_files)
    return DIO.write_files(
        df.select(*int_fields, x_col, y_col), directory, key,
        lambda part, pdf: {f"part-{part:05d}.jml": points_jml_bytes(
            pdf, x_col, y_col, int_fields)})


def read_point_jmls(
    spark: SparkSession, directory: str, int_fields: list[str],
) -> DataFrame:
    """Distributed Point scan: one decode per .jml shard."""
    return DIO.read_files(
        spark, f"{directory}/*.jml",
        lambda path, buf: pd.DataFrame(parse_jml(buf, int_fields),
                                       columns=int_fields + ["x", "y"]),
        DIO.point_schema(int_fields))
