"""DXF driver — from-scratch codec of the PUBLIC Autodesk DXF ASCII
grammar (group-code/value pair stream; the reference's reader is
``ogr/ogrsf_frmts/dxf/``).  NOT a port: the reference implements the full
entity zoo + blocks/styles; this driver implements the high-traffic
geometry subset — POINT and LWPOLYLINE — over the minimal R2000 skeleton
(HEADER with $ACADVER, ENTITIES, EOF) that every CAD tool emits.

Grammar: the file is a flat sequence of ``<group code>\\n<value>\\n``
pairs.  Sections open with ``0/SECTION 2/<name>`` and close with
``0/ENDSEC``.  Entities used here:

* ``POINT``:       8 layer, 10 x, 20 y
* ``LWPOLYLINE``:  8 layer, 90 n_vertices, 70 flags (1 = closed),
                   then n repeats of 10 x / 20 y

Doubles are written as shortest-roundtrip ``repr`` so coordinates survive
the text container bit-exactly (the same contract as the GeoJSON/KML/XYZ
drivers).

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.dxf`` per shard of the layer key on write, one decode per shard on
read with a vectorized pair-stream scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO

_PRELUDE = [
    "0", "SECTION", "2", "HEADER",
    "9", "$ACADVER", "1", "AC1015",
    "0", "ENDSEC",
    "0", "SECTION", "2", "ENTITIES",
]
_EPILOGUE = ["0", "ENDSEC", "0", "EOF"]


def _fmt(v: float) -> str:
    return repr(float(v))


def dxf_bytes(points: list[tuple[str, float, float]] | None = None,
              polylines: list[tuple[str, list[tuple[float, float]], bool]]
              | None = None) -> bytes:
    """Serialize one DXF document from (layer, x, y) points and
    (layer, vertices, closed) polylines."""
    out = list(_PRELUDE)
    for layer, x, y in points or []:
        out += ["0", "POINT", "8", str(layer),
                "10", _fmt(x), "20", _fmt(y)]
    for layer, verts, closed in polylines or []:
        out += ["0", "LWPOLYLINE", "8", str(layer),
                "90", str(len(verts)), "70", "1" if closed else "0"]
        for x, y in verts:
            out += ["10", _fmt(x), "20", _fmt(y)]
    out += _EPILOGUE
    return ("\n".join(out) + "\n").encode("ascii")


def parse_dxf(buf: bytes) -> tuple[list, list]:
    """→ (points, polylines) in the ``dxf_bytes`` shapes.  A tolerant
    pair-stream scan: unknown entities/sections are skipped (the
    reference's reader does the same for unsupported entities)."""
    lines = buf.decode("ascii", errors="replace").splitlines()
    pairs = [(lines[i].strip(), lines[i + 1].strip())
             for i in range(0, len(lines) - 1, 2)]
    points: list = []
    polylines: list = []
    i = 0
    n = len(pairs)
    while i < n:
        code, val = pairs[i]
        if code == "0" and val == "POINT":
            layer, x, y = "0", 0.0, 0.0
            i += 1
            while i < n and pairs[i][0] != "0":
                c, v = pairs[i]
                if c == "8":
                    layer = v
                elif c == "10":
                    x = float(v)
                elif c == "20":
                    y = float(v)
                i += 1
            points.append((layer, x, y))
        elif code == "0" and val == "LWPOLYLINE":
            layer, closed = "0", False
            verts: list = []
            cur_x = None
            i += 1
            while i < n and pairs[i][0] != "0":
                c, v = pairs[i]
                if c == "8":
                    layer = v
                elif c == "70":
                    closed = bool(int(v) & 1)
                elif c == "10":
                    cur_x = float(v)
                elif c == "20":
                    verts.append((cur_x, float(v)))
                i += 1
            polylines.append((layer, verts, closed))
        else:
            i += 1
    return points, polylines


def write_point_dxfs(
    df: DataFrame, directory: str,
    layer_col: str, lon: str = "lon", lat: str = "lat",
    num_files: int = 4,
) -> int:
    """Distributed POINT-layer sink: one .dxf per shard of the layer
    key (no driver collect).  The layer name (group code 8) carries the
    feature key — DXF's native attribute channel."""

    def encode(part, pdf):
        pts = [(str(k), float(x), float(y)) for k, x, y in zip(
            pdf[layer_col], pdf[lon], pdf[lat])]
        return {f"part-{part:05d}.dxf": dxf_bytes(points=pts)}

    return DIO.write_files(df.select(layer_col, lon, lat), directory,
                           DIO.hash_key(layer_col, num_files), encode)


def read_point_dxfs(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed POINT scan → (layer, lon, lat), one decode per shard."""
    return DIO.read_files(
        spark, f"{directory}/*.dxf",
        lambda path, buf: pd.DataFrame(parse_dxf(buf)[0],
                                       columns=["layer", "lon", "lat"]),
        "layer string, lon double, lat double")


def write_polyline_dxfs(
    df: DataFrame, directory: str,
    layer_col: str, xs: str = "xs", ys: str = "ys",
    closed: bool = True, num_files: int = 2,
) -> int:
    """Distributed LWPOLYLINE sink over (layer, xs:array, ys:array)."""

    def encode(part, pdf):
        pls = [
            (str(k), list(zip([float(v) for v in vx],
                              [float(v) for v in vy])), closed)
            for k, vx, vy in zip(pdf[layer_col], pdf[xs], pdf[ys])
        ]
        return {f"part-{part:05d}.dxf": dxf_bytes(polylines=pls)}

    return DIO.write_files(df.select(layer_col, xs, ys), directory,
                           DIO.hash_key(layer_col, num_files), encode)


def read_polyline_dxfs(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed LWPOLYLINE scan → (layer, xs, ys, closed)."""

    def decode(path, buf):
        pls = parse_dxf(buf)[1]
        return pd.DataFrame({
            "layer": [p[0] for p in pls],
            "xs": [[v[0] for v in p[1]] for p in pls],
            "ys": [[v[1] for v in p[1]] for p in pls],
            "closed": [bool(p[2]) for p in pls],
        })

    return DIO.read_files(
        spark, f"{directory}/*.dxf", decode,
        "layer string, xs array<double>, ys array<double>, closed boolean")
