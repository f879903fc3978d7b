"""NOAA VDatum .gtx vertical-shift grid driver — the PUBLIC binary grid
format PROJ and the reference read (``frmts/gtx/gtxdataset.cpp``).

Format (big-endian): 40-byte header — f64 lat of lower-left, f64 lon of
lower-left (0..360 convention), f64 delta lat, f64 delta lon, i32 rows,
i32 cols — followed by rows×cols float32 shift values, SOUTH row first
(bottom-up), -88.8888 as nodata by convention.

Spark mapping: the grid is a dimension-scale artifact (vertical datums are
a few MB), so write stays a bounded single-file sink; the READ is the
distributed path — row-block slabs on the slab kernel
(``sources/_rawgrid.py``), emitting (row, col, lat, lon, shift) for the
broadcast-sample join the warp/transformer family uses.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _rawgrid as RG

NODATA = -88.8888


def gtx_bytes(arr: np.ndarray, lat0: float, lon0: float,
              dlat: float, dlon: float) -> bytes:
    """Serialize one grid (SOUTH row first, per the spec)."""
    rows, cols = arr.shape
    head = struct.pack(">ddddii", lat0, lon0, dlat, dlon, rows, cols)
    return head + arr.astype(">f4").tobytes(order="C")


def parse_gtx_header(path: str) -> dict:
    with open(path, "rb") as fh:
        head = fh.read(40)
    lat0, lon0, dlat, dlon, rows, cols = struct.unpack(">ddddii", head)
    if rows <= 0 or cols <= 0 or not (0.0 < dlat < 90.0):
        raise ValueError(f"gtx: implausible header in {path!r}")
    return {"lat0": lat0, "lon0": lon0, "dlat": dlat, "dlon": dlon,
            "rows": rows, "cols": cols}


def write_gtx(arr: np.ndarray, path: str, lat0: float, lon0: float,
              dlat: float, dlon: float) -> None:
    with open(path, "wb") as fh:
        fh.write(gtx_bytes(arr, lat0, lon0, dlat, dlon))


def read_gtx(spark: SparkSession, path: str,
             block_rows: int = 64) -> DataFrame:
    """Distributed scan → (row, col, lat, lon, shift), nodata dropped;
    one row-block slab per task (header parsed driver-side only)."""
    h = parse_gtx_header(path)
    cols = h["cols"]
    bl = RG.Blocks(h["rows"], block_rows)

    def decode(read, slab):
        _, r0, nr = bl.span(slab)
        vals = read(40 + r0 * cols * 4, (nr, cols), ">f4").astype(np.float64)
        yield 0, r0, 0, np.ma.masked_where(
            ~(np.abs(vals - NODATA) > 1e-4), vals)

    return RG.read_slabs(spark, path, bl.count, decode).select(
        F.col("gy").alias("row"), F.col("gx").alias("col"),
        (F.lit(h["lat0"]) + F.col("gy") * F.lit(h["dlat"])).alias("lat"),
        (F.lit(h["lon0"]) + F.col("gx") * F.lit(h["dlon"])).alias("lon"),
        F.col("val").alias("shift"))
