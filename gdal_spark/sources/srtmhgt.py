"""SRTM HGT driver — from-scratch codec of the PUBLIC NASA SRTM .hgt tile
format (reference reads it in ``frmts/srtmhgt/srtmhgtdataset.cpp``).

Format (public SRTM documentation):

* filename ``[NS]yy[EW]xxx.hgt`` names the SOUTH-WEST corner of a 1x1
  degree cell (``N51E010.hgt`` covers lat [51,52), lon [10,11));
* contents are an ``n x n`` grid of BIG-ENDIAN signed 16-bit elevations,
  ``n = 3601`` (SRTM1) or ``1201`` (SRTM3) in the wild — ``n`` is inferred
  from the file size (the reference does the same, srtmhgtdataset.cpp
  Identify/Open), so any perfect-square payload parses;
* rows run NORTH to SOUTH, columns WEST to EAST; sample spacing is
  ``1/(n-1)`` degrees (edge rows/cols are shared with neighbour tiles);
* voids are ``-32768``.

Spark mapping: the document kernel (``sources/_docio.py``):

* **write**: one ``.hgt`` file per 1-degree tile (a tile is bounded:
  <=3601^2 * 2 bytes = 26 MB);
* **read**: one decode per tile, vectorized ``frombuffer`` parse, voids
  dropped (the reference's nodata mask), emitting global (lon, lat,
  elev) so downstream DEM operators are tile-agnostic.
"""

from __future__ import annotations

import os
import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _docio as DIO
from gdal_spark.sources import _rawgrid as RG

VOID = -32768

_NAME_RE = re.compile(r"([NS])(\d{2})([EW])(\d{3})\.hgt$", re.IGNORECASE)


def hgt_name(lat_sw: int, lon_sw: int) -> str:
    """SW-corner tile name (``N51E010.hgt``), the format's georeferencing."""
    ns = "N" if lat_sw >= 0 else "S"
    ew = "E" if lon_sw >= 0 else "W"
    return f"{ns}{abs(lat_sw):02d}{ew}{abs(lon_sw):03d}.hgt"


def parse_hgt_name(path: str) -> tuple[int, int]:
    """→ (lat_sw, lon_sw) from the filename (the only georef the format
    carries)."""
    m = _NAME_RE.search(os.path.basename(path))
    if not m:
        raise ValueError(f"srtmhgt: not an SRTM tile name: {path!r}")
    lat = int(m.group(2)) * (1 if m.group(1).upper() == "N" else -1)
    lon = int(m.group(4)) * (1 if m.group(3).upper() == "E" else -1)
    return lat, lon


def hgt_bytes(arr: np.ndarray) -> bytes:
    """Serialize one tile: square int16 grid, big-endian, N->S rows."""
    if arr.ndim != 2 or arr.shape[0] != arr.shape[1]:
        raise ValueError(f"srtmhgt: tile must be square, got {arr.shape}")
    return arr.astype(">i2").tobytes(order="C")


def parse_hgt(buf: bytes) -> np.ndarray:
    """→ (n, n) int16 array (native byte order), N->S rows.  ``n`` is
    inferred from the byte length exactly like the reference's Open()."""
    n2 = len(buf) // 2
    n = int(round(n2 ** 0.5))
    if n * n != n2 or len(buf) % 2:
        raise ValueError(f"srtmhgt: {len(buf)} bytes is not a square grid")
    return np.frombuffer(buf, dtype=">i2").reshape(n, n).astype(np.int16)


def write_hgt_tiles(cells: DataFrame, directory: str, n: int) -> int:
    """Distributed .hgt sink over (lat_sw, lon_sw, row, col, elev) —
    row 0 = the tile's NORTH edge (spec order).  Cells absent from the
    input are written as VOID; one file per 1-degree tile."""

    def encode(tile, pdf):
        arr = RG.scatter(pdf, (n, n), VOID, np.int16, pdf["row"].to_numpy(),
                         pdf["col"].to_numpy(),
                         vals=pdf["elev"].to_numpy(np.int64))
        return {hgt_name(*map(int, tile)): hgt_bytes(arr)}

    return DIO.write_files(cells, directory,
                           (F.col("lat_sw"), F.col("lon_sw")), encode,
                           {"row": n, "col": n})


def read_hgt(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed .hgt scan → (lat_sw, lon_sw, row, col, elev, lon, lat);
    voids dropped.  lon/lat are the sample's geographic position from the
    SW-corner name + 1/(n-1) spacing (the reference's geotransform)."""

    def decode(path, buf):
        lat_sw, lon_sw = parse_hgt_name(path)
        arr = parse_hgt(buf)
        step = 1.0 / (arr.shape[0] - 1)
        keep = arr != VOID
        rows, cols = DIO.grid_index(arr.shape, keep)
        return DIO.tile_frame(lat_sw, lon_sw, rows, cols, arr[keep],
                              lon_sw + cols * step,
                              lat_sw + 1.0 - rows * step)

    return DIO.read_files(spark, f"{directory}/*.hgt", decode,
                          DIO.TILE_SCHEMA)
