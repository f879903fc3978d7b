"""Arc/Info ASCII Grid driver (public ESRI ASCII raster format; reference
``frmts/aaigrid/aaigriddataset.cpp``).

Format: a 6-line text header —

    ncols <w>
    nrows <h>
    xllcorner <x>      (lower-LEFT corner, note: not the GeoTIFF top-left)
    yllcorner <y>
    cellsize <res>
    NODATA_value <v>

— followed by ``nrows`` whitespace-separated rows, TOP row first.  Values
here are written as integers or shortest-roundtrip decimals, so they
survive the text container exactly (same contract as the GeoJSON/KML
drivers).

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.asc`` per row-block on write, one decode per file on read with a
single vectorized ``np.loadtxt``-free split parse.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO
from gdal_spark.sources import _rawgrid as RG

NODATA = -9999


def aaigrid_bytes(arr: np.ndarray, xll: float, yll: float,
                  cellsize: float, nodata: int = NODATA) -> bytes:
    """Serialize one grid (top row first, per the spec)."""
    h, w = arr.shape
    head = (
        f"ncols {w}\nnrows {h}\nxllcorner {xll!r}\nyllcorner {yll!r}\n"
        f"cellsize {cellsize!r}\nNODATA_value {nodata}\n"
    )
    if np.issubdtype(arr.dtype, np.integer):
        body = "\n".join(" ".join(str(int(v)) for v in row) for row in arr)
    else:
        body = "\n".join(" ".join(repr(float(v)) for v in row)
                         for row in arr)
    return (head + body + "\n").encode("ascii")


def parse_aaigrid(buf: bytes) -> tuple[dict, np.ndarray]:
    """→ (header dict, float64 array top-row-first)."""
    text = buf.decode("ascii")
    lines = text.split("\n")
    hdr: dict = {}
    i = 0
    while i < len(lines):
        parts = lines[i].split()
        if len(parts) == 2 and parts[0].lower() in (
                "ncols", "nrows", "xllcorner", "yllcorner", "cellsize",
                "nodata_value"):
            hdr[parts[0].lower()] = float(parts[1])
            i += 1
        else:
            break
    w, h = int(hdr["ncols"]), int(hdr["nrows"])
    vals = np.array(" ".join(lines[i:]).split(), dtype=np.float64)
    return hdr, vals[:w * h].reshape(h, w)


def write_cell_aaigrids(
    cells: DataFrame, directory: str, width: int, height: int,
    block_rows: int,
    xll: float = 10.0, yll_top: float = 50.0, cellsize: float = 1.0 / 1024.0,
) -> int:
    """Distributed .asc sink over a (gx, gy, val) cell table: one grid per
    row-block; each block's yllcorner follows from its BOTTOM row (the
    lower-left-corner convention)."""
    bl = RG.Blocks(height, block_rows)

    def encode(blk, pdf):
        _, y0, h = bl.span(blk)
        arr = RG.scatter(pdf, (h, width), NODATA, np.int64,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy())
        yll = yll_top - (y0 + h) * cellsize
        return {f"block-{blk:05d}.asc":
                aaigrid_bytes(arr, xll, yll, cellsize)}

    return DIO.write_files(cells, directory, bl.key(), encode,
                           {"gy": height, "gx": width})


def read_aaigrids(
    spark: SparkSession, directory: str,
    xll: float = 10.0, yll_top: float = 50.0, cellsize: float = 1.0 / 1024.0,
) -> DataFrame:
    """Distributed .asc scan → (gx, gy, val) with GLOBAL pixel rows
    recovered from each header's yllcorner; NODATA cells dropped (the
    reference's mask semantics)."""

    def decode(path, buf):
        hdr, arr = parse_aaigrid(buf)
        y0 = int(round((yll_top - hdr["yllcorner"]) / hdr["cellsize"])) \
            - int(hdr["nrows"])
        keep = arr != hdr.get("nodata_value", NODATA)
        gy, gx = DIO.grid_index(arr.shape, keep, y0)
        return pd.DataFrame({"gx": gx, "gy": gy, "val": arr[keep]})

    return DIO.read_files(spark, f"{directory}/*.asc", decode,
                          "gx long, gy long, val double")
