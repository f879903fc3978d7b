"""OGR WAsP .map driver — from-scratch codec of the PUBLIC WAsP
(Wind Atlas Analysis and Application Program) terrain map format as the
reference defines it (``ogr/ogrsf_frmts/wasp/ogrwasplayer.cpp``,
``ogrwaspdatasource.cpp``).

Layout (fixed-width text):

* 4 header lines (ogrwaspdatasource.cpp:313-323): a free-text /
  spatial-ref line, then the canonical ``0.0 0.0 0.0 0.0`` fixed
  points, ``1.0 0.0 1.0 0.0`` x/y scale+offset, ``1.0 0.0`` z
  scale+offset.
* Per feature, an attribute line then wrapped vertex pairs:

  - ELEVATION contour: ``%11.3f %11d`` — z, npoints
    (ogrwasplayer.cpp:364);
  - ROUGHNESS-change line: ``%11.3f %11.3f %11d`` — z_left, z_right,
    npoints (ogrwasplayer.cpp:545);
  - vertices as ``%11.1f %11.1f `` pairs, newline-wrapped
    (ogrwasplayer.cpp:370,551).

  The reader distinguishes the two layer kinds by the attribute line's
  token count (2 = elevation, 3 = roughness), the same dichotomy the
  reference's layer open logic uses.

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.map`` shard per shard of the feature id on write, one decode per
shard on read (executor-side token-stream parse)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO

_HEADER = (
    "gdal_spark WAsP map | no spatial ref sys\n"
    "  0.0 0.0 0.0 0.0\n"
    "  1.0 0.0 1.0 0.0\n"
    "  1.0 0.0\n"
)


def elevation_map_bytes(feats: list[tuple[float, np.ndarray]]) -> bytes:
    """feats: [(z, (n,2) vertex array), ...] → elevation-contour .map."""
    out = [_HEADER]
    for z, xy in feats:
        xy = np.asarray(xy, dtype=np.float64)
        out.append(f"{z:11.3f} {len(xy):11d}")
        for v, (x, y) in enumerate(xy):
            out.append("\n" if v % 3 == 0 else "")
            out.append(f"{x:11.1f} {y:11.1f} ")
        out.append("\n")
    return "".join(out).encode("ascii")


def roughness_map_bytes(
        feats: list[tuple[float, float, np.ndarray]]) -> bytes:
    """feats: [(z_left, z_right, (n,2) array), ...] → roughness .map."""
    out = [_HEADER]
    for zl, zr, xy in feats:
        xy = np.asarray(xy, dtype=np.float64)
        out.append(f"{zl:11.3f} {zr:11.3f} {len(xy):11d}")
        for v, (x, y) in enumerate(xy):
            out.append("\n  " if v % 3 == 0 else "")
            out.append(f"{x:11.1f} {y:11.1f} ")
        out.append("\n")
    return "".join(out).encode("ascii")


def parse_wasp(buf: bytes):
    """→ (kind, [(attrs..., (n,2) array), ...]) with kind in
    {'elevation', 'roughness'} decided by the first attribute line's
    token count; vertices are consumed as a token stream so any legal
    wrap re-reads."""
    lines = buf.decode("ascii").splitlines()
    if len(lines) < 4:
        raise ValueError("wasp: truncated header (4 lines required)")
    body = lines[4:]
    first = next((ln for ln in body if ln.strip()), None)
    if first is None:
        return "elevation", []
    ntok = len(first.split())
    if ntok == 2:
        kind, nattr = "elevation", 1
    elif ntok == 3:
        kind, nattr = "roughness", 2
    else:
        raise ValueError(
            f"wasp: attribute line has {ntok} tokens (want 2 or 3)")
    toks = " ".join(body).split()
    feats = []
    i = 0
    while i < len(toks):
        attrs = tuple(float(t) for t in toks[i:i + nattr])
        n = int(toks[i + nattr])
        i += nattr + 1
        if n < 2 or i + 2 * n > len(toks):
            raise ValueError("wasp: vertex count overruns token stream")
        xy = np.array(toks[i:i + 2 * n], dtype=np.float64).reshape(n, 2)
        i += 2 * n
        feats.append(attrs + (xy,))
    return kind, feats


def write_elevation_maps(
    df: DataFrame, directory: str, num_files: int,
    *, id_col: str = "fid", z_col: str = "z",
    x_col: str = "x", y_col: str = "y", seq_col: str = "seq",
) -> int:
    """Distributed elevation-contour sink over exploded vertex rows
    (id, z, seq, x, y): one .map shard per shard of the feature id,
    features grouped executor-side."""

    def encode(part, pdf):
        feats = [(float(g[z_col].iloc[0]),
                  g[[x_col, y_col]].to_numpy(np.float64))
                 for _, g in pdf.sort_values([id_col, seq_col]).groupby(
                     id_col, sort=True)]
        return {f"part-{part:05d}.map": elevation_map_bytes(feats)}

    return DIO.write_files(
        df.select(id_col, z_col, seq_col, x_col, y_col), directory,
        DIO.hash_key(id_col, num_files), encode)


def read_elevation_maps(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed scan → exploded vertex rows (z, seq, x, y); one
    decode per .map shard."""

    def decode(path, buf):
        kind, feats = parse_wasp(buf)
        if kind != "elevation":
            raise ValueError(f"wasp: expected elevation layer, got {kind}")
        return pd.DataFrame(
            [(float(z), s, float(x), float(y))
             for z, xy in feats for s, (x, y) in enumerate(xy)],
            columns=["z", "seq", "x", "y"])

    return DIO.read_files(spark, f"{directory}/*.map", decode,
                          "z double, seq long, x double, y double")
