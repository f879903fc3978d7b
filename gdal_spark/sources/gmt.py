"""OGR GMT ASCII vector driver — from-scratch codec of the PUBLIC GMT
(Generic Mapping Tools) text vector format as the reference defines it
(``ogr/ogrsf_frmts/gmt/ogrgmtlayer.cpp``):

* ``#`` comment lines carry ``@``-keyed metadata: ``@VGMT1.0`` magic,
  ``@G<POINT|LINESTRING>`` geometry type, ``@N<name|name>`` field
  names, ``@T<type|type>`` field types;
* each feature's attributes ride a ``# @Dv1|v2`` line, followed by its
  coordinate line(s) ``lon lat`` (shortest-roundtrip decimals);
* multi-vertex geometries are separated by ``>`` lines (the classic
  GMT segment separator).

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.gmt`` shard per shard of the key on write, one decode per shard on
read (executor-side line parse)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO


def _header(geom_type: str, fields: list[str]) -> str:
    return (
        f"# @VGMT1.0 @G{geom_type} @N{'|'.join(fields)}\n"
        f"# @T{'|'.join(['integer'] * len(fields))}\n"
        "# FEATURE_DATA\n"
    )


def points_gmt_bytes(pdf: pd.DataFrame, x_col: str, y_col: str,
                     int_fields: list[str]) -> bytes:
    out = [_header("POINT", int_fields)]
    for r in pdf.itertuples(index=False):
        vals = "|".join(str(int(getattr(r, c))) for c in int_fields)
        out.append(f"# @D{vals}\n")
        out.append(f"{getattr(r, x_col)!r} {getattr(r, y_col)!r}\n")
    return "".join(out).encode("ascii")


def lines_gmt_bytes(feats: list[tuple[list[int], np.ndarray]],
                    int_fields: list[str]) -> bytes:
    """feats: [(attr values, (n,2) vertex array), ...]."""
    out = [_header("LINESTRING", int_fields)]
    for vals, xy in feats:
        out.append(">\n")
        out.append(f"# @D{'|'.join(str(int(v)) for v in vals)}\n")
        for x, y in np.asarray(xy, dtype=np.float64):
            out.append(f"{x!r} {y!r}\n")
    return "".join(out).encode("ascii")


def parse_gmt(buf: bytes):
    """→ (geom_type, field names, [(attrs, (n,2) array), ...]).  The
    ``@``-keyed header is honoured; ``>`` starts a new feature; a
    ``@D`` line binds attributes to the vertices that follow it."""
    geom_type, names = "POINT", []
    feats: list[tuple[list[int], list[tuple[float, float]]]] = []
    attrs: list[int] | None = None
    verts: list[tuple[float, float]] = []

    def flush():
        nonlocal attrs, verts
        if attrs is not None or verts:
            feats.append((attrs or [], verts))
        attrs, verts = None, []

    for raw in buf.decode("ascii").splitlines():
        line = raw.strip()
        if not line:
            continue
        if line.startswith("#"):
            for tok in line[1:].split("@")[1:]:
                key, val = tok[0], tok[1:].strip()
                if key == "G":
                    geom_type = val.split()[0]
                elif key == "N":
                    names = val.split()[0].split("|")
                elif key == "D":
                    if geom_type == "POINT":
                        flush()
                    attrs = [int(v) for v in val.split("|")]
            continue
        if line.startswith(">"):
            flush()
            continue
        x, y = line.split()[:2]
        verts.append((float(x), float(y)))
    flush()
    return geom_type, names, [
        (a, np.array(v, dtype=np.float64).reshape(-1, 2))
        for a, v in feats if a or v
    ]


def write_point_gmts(
    df: DataFrame,
    directory: str,
    x_col: str,
    y_col: str,
    int_fields: list[str],
    num_files: int,
    partition_key: str | None = None,
) -> int:
    """Distributed Point sink: one .gmt per shard of the key."""
    key = DIO.hash_key(partition_key or int_fields[0], num_files)
    return DIO.write_files(
        df.select(*int_fields, x_col, y_col), directory, key,
        lambda part, pdf: {f"part-{part:05d}.gmt": points_gmt_bytes(
            pdf, x_col, y_col, int_fields)})


def read_point_gmts(
    spark: SparkSession,
    directory: str,
    int_fields: list[str],
) -> DataFrame:
    """Distributed Point scan: one decode per .gmt shard."""

    def decode(path, buf):
        gt, names, feats = parse_gmt(buf)
        if gt != "POINT":
            raise ValueError(f"gmt: expected POINT layer, got {gt}")
        idx = [names.index(c) for c in int_fields]
        return pd.DataFrame(
            [[attrs[i] for i in idx] + [float(xy[0, 0]), float(xy[0, 1])]
             for attrs, xy in feats], columns=int_fields + ["x", "y"])

    return DIO.read_files(spark, f"{directory}/*.gmt", decode,
                          DIO.point_schema(int_fields))
