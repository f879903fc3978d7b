"""BT (VTP Binary Terrain 1.3) driver — from-scratch codec of the
PUBLIC Virtual Terrain Project heightfield format (reference
``frmts/raw/btdataset.cpp``).

Format (public VTP spec; reference Create() at btdataset.cpp:845-900):

* 256-byte little-endian header: magic ``binterr1.3``, int32 columns
  @10 / rows @14, int16 data size @18, byte float flag @20, int16
  horizontal units @22 / UTM zone @24 / datum @26, doubles
  left/right/bottom/top extents @28/36/44/52, float vertical scale
  @62;
* data is COLUMN-MAJOR: columns left→right, and within each column
  the values run BOTTOM→TOP (the transposed, south-up layout that
  distinguishes BT from every row-major raw driver in this engine).

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``)
rotated 90°: a slab is a COLUMN-block, the contiguous unit of the
column-major layout, transposed and flipped to north-up in the slab."""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

_DTYPES = {(2, 0): "<i2", (4, 0): "<i4", (4, 1): "<f4"}
_OF_NP = {"i2": (2, 0), "i4": (4, 0), "f4": (4, 1)}


def bt_header(w: int, h: int, dtype: str,
              left: float, right: float, bottom: float, top: float) -> bytes:
    size, is_float = _OF_NP[dtype]
    hdr = bytearray(256)
    hdr[0:10] = b"binterr1.3"
    struct.pack_into("<i", hdr, 10, w)
    struct.pack_into("<i", hdr, 14, h)
    struct.pack_into("<h", hdr, 18, size)
    hdr[20] = is_float
    struct.pack_into("<h", hdr, 22, 1)    # horizontal units: meters
    struct.pack_into("<h", hdr, 24, 0)    # not UTM
    struct.pack_into("<h", hdr, 26, -2)   # datum unknown
    struct.pack_into("<d", hdr, 28, left)
    struct.pack_into("<d", hdr, 36, right)
    struct.pack_into("<d", hdr, 44, bottom)
    struct.pack_into("<d", hdr, 52, top)
    struct.pack_into("<f", hdr, 62, 1.0)  # vertical scale
    return bytes(hdr)


def parse_bt_header(buf: bytes) -> dict:
    if buf[0:7] != b"binterr":
        raise ValueError("bt: missing binterr magic")
    w = struct.unpack_from("<i", buf, 10)[0]
    h = struct.unpack_from("<i", buf, 14)[0]
    size = struct.unpack_from("<h", buf, 18)[0]
    is_float = buf[20]
    key = (size, 1 if is_float else 0)
    if key not in _DTYPES:
        raise ValueError(f"bt: unsupported data size/float {key}")
    left, right, bottom, top = (
        struct.unpack_from("<d", buf, o)[0] for o in (28, 36, 44, 52))
    return {"w": w, "h": h, "dtype": _DTYPES[key],
            "left": left, "right": right, "bottom": bottom, "top": top}


def read_bt(spark: SparkSession, path: str,
            block_cols: int = 64) -> DataFrame:
    """Distributed scan → (gy, gx, val double) with gy 0 = NORTH; one
    slab per column-block, each a single contiguous pread (columns are
    the contiguous unit in BT's transposed layout)."""
    with open(path, "rb") as fh:
        hdr = parse_bt_header(fh.read(256))
    w, h = hdr["w"], hdr["h"]
    np_dt = np.dtype(hdr["dtype"])
    bl = RG.Blocks(w, block_cols)

    def decode(read, slab):
        _, x0, cols = bl.span(slab)
        # (cols, h): each file column bottom->top
        arr = read(256 + x0 * h * np_dt.itemsize, (cols, h), np_dt)
        yield 0, 0, x0, arr.T[::-1]

    return RG.read_slabs(spark, path, bl.count, decode)


def write_bt(
    cells: DataFrame, path: str, w: int, h: int,
    *, dtype: str = "i2", block_cols: int = 64, fill: float = 0.0,
    left: float = 0.0, top: float = 0.0, cellsize: float = 1.0,
) -> None:
    """Distributed sink over (gy, gx, val), gy 0 = north: one pwrite
    per column-block of its contiguous transposed range (values
    flipped into each column's bottom→top order)."""
    if dtype not in _OF_NP:
        raise ValueError(f"bt write: unsupported dtype {dtype!r}")
    np_dt = np.dtype(_DTYPES[_OF_NP[dtype]])
    data0 = RG.preallocate(
        path, bt_header(w, h, dtype, left, left + w * cellsize,
                        top - h * cellsize, top),
        RG.fill_row(fill, np_dt, h), w)
    bl = RG.Blocks(w, block_cols)

    def encode(slab, pdf):
        _, x0, cols = bl.span(slab)
        buf = RG.scatter(pdf, (cols, h), fill, np_dt,
                         pdf["gx"].to_numpy() - x0,
                         h - 1 - pdf["gy"].to_numpy())
        return data0 + x0 * h * np_dt.itemsize, buf

    RG.write_slabs(cells, path, bl.key("gx"), (h, w), encode)
