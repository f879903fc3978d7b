"""TopoJSON driver — the PUBLIC TopoJSON specification (reference reads
it via ``ogr/ogrsf_frmts/geojson/ogrtopojsonreader.cpp``; that driver is
read-only, so like it we treat a Topology document as the on-disk unit).

Format: one JSON ``Topology`` document holding a quantization
``transform`` (``position = translate + q * scale``), a shared ``arcs``
table of delta-encoded integer positions, and named ``objects`` whose
geometries reference arcs by index — ``~i`` (ones' complement) means arc
``i`` walked backwards.  Adjacent polygons share boundary arcs instead of
duplicating coordinates.

Spark mapping: the document kernel (``sources/_docio.py``) — one
Topology document per block on write (shared-arc dedup is block-local,
exactly the sharing a per-tile TopoJSON file carries in the wild), one
decode per document on read (arc cumsum + stitching in numpy).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _docio as DIO


def encode_topology(features: list[tuple[int, dict, list[list[tuple[int, int]]]]],
                    object_name: str, scale: tuple[float, float],
                    translate: tuple[float, float]) -> str:
    """Build one Topology document from (fid, properties, rings) features.

    Rings are CLOSED integer sequences in quantized space.  Every
    consecutive vertex pair becomes a candidate arc, deduplicated under
    canonical orientation — the edge shared by two adjacent cells is
    stored once and referenced forward by one and as ``~i`` by the other,
    the spec's whole point.
    """
    arcs: list[list[list[int]]] = []
    index: dict[tuple[tuple[int, int], tuple[int, int]], int] = {}
    geoms = []
    for fid, props, rings in features:
        ring_refs = []
        for ring in rings:
            if ring[0] != ring[-1]:
                raise ValueError("topojson: ring is not closed")
            refs = []
            for p, q in zip(ring[:-1], ring[1:]):
                key, fwd = ((p, q), True) if (p, q) <= (q, p) else ((q, p), False)
                if key not in index:
                    index[key] = len(arcs)
                    (x0, y0), (x1, y1) = key
                    arcs.append([[x0, y0], [x1 - x0, y1 - y0]])
                i = index[key]
                refs.append(i if fwd else ~i)
            ring_refs.append(refs)
        geoms.append({"type": "Polygon", "arcs": ring_refs, "id": int(fid),
                      "properties": props})
    return json.dumps({
        "type": "Topology",
        "transform": {"scale": list(scale), "translate": list(translate)},
        "objects": {object_name: {"type": "GeometryCollection",
                                  "geometries": geoms}},
        "arcs": arcs,
    }, separators=(",", ":"))


def decode_topology(doc: str | bytes,
                    object_name: str) -> list[tuple[int, dict, list[np.ndarray]]]:
    """→ [(fid, properties, [ring (n, 2) float64 arrays])] with arcs
    cumsum-decoded, de-quantized, reversed on ``~i`` references, and
    stitched (each subsequent arc re-states the previous arc's endpoint,
    which is dropped)."""
    topo = json.loads(doc)
    if topo.get("type") != "Topology":
        raise ValueError("topojson: not a Topology document")
    tr = topo.get("transform")
    decoded: list[np.ndarray] = []
    for arc in topo["arcs"]:
        a = np.asarray(arc, dtype=np.float64)
        if tr is not None:  # delta-encoded quantized ints
            a = np.cumsum(a, axis=0)
            a = np.asarray(tr["translate"]) + a * np.asarray(tr["scale"])
        decoded.append(a)
    obj = topo["objects"][object_name]
    out = []
    for g in obj["geometries"]:
        if g["type"] != "Polygon":
            raise ValueError(f"topojson: unsupported type {g['type']}")
        rings = []
        for refs in g["arcs"]:
            parts = []
            for i, ref in enumerate(refs):
                pts = decoded[ref] if ref >= 0 else decoded[~ref][::-1]
                parts.append(pts if i == 0 else pts[1:])
            rings.append(np.concatenate(parts, axis=0))
        out.append((int(g.get("id", -1)), g.get("properties", {}), rings))
    return out


def write_polygon_topologies(cells: DataFrame, directory: str,
                             object_name: str, scale: tuple[float, float],
                             translate: tuple[float, float],
                             block_col: str = "blk") -> int:
    """Distributed sink over (blk, fid, props_json, ring qx/qy arrays):
    one Topology document per block, shared-arc dedup inside each."""

    def encode(blk, pdf):
        feats = [(int(row.fid), json.loads(row.props_json),
                  [list(zip((int(v) for v in row.qx),
                            (int(v) for v in row.qy)))])
                 for row in pdf.sort_values("fid").itertuples()]
        return {f"block-{int(blk):05d}.topojson": encode_topology(
            feats, object_name, scale, translate).encode()}

    return DIO.write_files(cells, directory, F.col(block_col), encode)


def read_polygon_topologies(spark: SparkSession, directory: str,
                            object_name: str) -> DataFrame:
    """Distributed scan → (fid, props_json, ring array<struct<x,y>>) of
    each feature's exterior ring; one decode per Topology document."""

    def decode(path, buf):
        rows = decode_topology(buf, object_name)
        return pd.DataFrame({
            "fid": [fid for fid, _, _ in rows],
            "props_json": [json.dumps(props, separators=(",", ":"))
                           for _, props, _ in rows],
            "ring": [[{"x": float(x), "y": float(y)} for x, y in rings[0]]
                     for _, _, rings in rows],
        })

    return DIO.read_files(
        spark, f"{directory}/*.topojson", decode,
        "fid long, props_json string, ring array<struct<x double, y double>>")
