"""Northwood/Vertical Mapper GRD driver — from-scratch codec of the
PUBLIC NWT_GRD format (reference ``frmts/northwood/northwood.cpp``,
``grddataset.cpp``).

Layout: a 1024-byte little-endian header —

    off 0   magic ``HGPC1`` (grddataset.cpp:586-589)
    off 5   f32 version
    off 9   u16 width, off 11 u16 height (0 → u32 fallback at 128/132)
    off 13  f64 minX, 21 f64 maxX, 29 f64 minY, 37 f64 maxY
    off 45  f32 zMin, 49 f32 zMax (plus display-scale floats at 53/57)

— then width·height uint16 samples, rows TOP-down (IReadBlock seeks
``1024 + 2·w·row``).  Raw 0 is the null marker; otherwise
value = zMin + (raw − 1)·(zMax − zMin)/65534 (grddataset.cpp:160,
SCALE16BIT = 65534 — raw 1..65535 spans the z range inclusively).

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``);
the quantization transform runs vectorised inside each slab task."""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

HEADER_SIZE = 1024
SCALE16BIT = 65534.0


def header_bytes(w: int, h: int, *, minx: float, maxx: float,
                 miny: float, maxy: float,
                 zmin: float, zmax: float) -> bytes:
    buf = bytearray(HEADER_SIZE)
    buf[0:5] = b"HGPC1"
    struct.pack_into("<f", buf, 5, 1.0)
    if w < 65536 and h < 65536:
        struct.pack_into("<2H", buf, 9, w, h)
    else:
        struct.pack_into("<I", buf, 128, w)
        struct.pack_into("<I", buf, 132, h)
    struct.pack_into("<4d", buf, 13, minx, maxx, miny, maxy)
    struct.pack_into("<2f", buf, 45, zmin, zmax)
    buf[1023] = 2  # bytes per pixel (northwood.cpp:146 nBitsPerPixel/8)
    return bytes(buf)


def parse_header(path: str) -> dict:
    with open(path, "rb") as fh:
        buf = fh.read(HEADER_SIZE)
    if len(buf) < HEADER_SIZE or buf[0:5] != b"HGPC1":
        raise ValueError("nwtgrd: missing HGPC1 magic")
    w, h = struct.unpack_from("<2H", buf, 9)
    if w == 0:
        w = struct.unpack_from("<I", buf, 128)[0]
    if h == 0:
        h = struct.unpack_from("<I", buf, 132)[0]
    if w <= 1 or h <= 0:
        raise ValueError(f"nwtgrd: bad dimensions {w}x{h}")
    minx, maxx, miny, maxy = struct.unpack_from("<4d", buf, 13)
    zmin, zmax = struct.unpack_from("<2f", buf, 45)
    return {"w": w, "h": h, "minx": minx, "maxx": maxx, "miny": miny,
            "maxy": maxy, "zmin": zmin, "zmax": zmax}


def read_nwtgrd(spark: SparkSession, path: str,
                block_rows: int = 64) -> DataFrame:
    """Distributed scan → (gy, gx, val double), gy top-down; raw 0
    (null) cells are dropped, others inverse-quantized with the
    format's (raw−1)/65534 rule."""
    hdr = parse_header(path)
    w, h = hdr["w"], hdr["h"]
    zmin = float(np.float32(hdr["zmin"]))
    scale = (float(np.float32(hdr["zmax"])) - zmin) / SCALE16BIT
    bl = RG.Blocks(h, block_rows)

    def decode(read, slab):
        _, y0, rows = bl.span(slab)
        raw = np.ma.masked_equal(read(HEADER_SIZE + y0 * w * 2, (rows, w),
                                      "<u2").astype(np.float64), 0)
        yield 0, y0, 0, zmin + (raw - 1.0) * scale

    return RG.read_slabs(spark, path, bl.count, decode)


def write_nwtgrd(
    cells: DataFrame, path: str, w: int, h: int,
    *, minx: float = 0.0, miny: float = 0.0, cell: float = 1.0,
    zmin: float | None = None, zmax: float | None = None,
    block_rows: int = 64,
) -> None:
    """Distributed sink over (gy, gx, val): header driver-side (z range
    from one bounded aggregate unless pinned by the caller — pinning a
    range whose (zmax−zmin)/65534 step divides the data makes the
    16-bit quantization exact), one row-block pwrite per slab; missing
    cells stay raw 0 (the null marker)."""
    if zmin is None or zmax is None:
        lo, hi = RG.value_range(cells)
        zmin = lo if zmin is None else zmin
        zmax = hi if zmax is None else zmax
    zmin = float(np.float32(zmin))
    zmax = float(np.float32(zmax))
    scale = (zmax - zmin) / SCALE16BIT
    RG.preallocate(path, header_bytes(
        w, h, minx=minx, maxx=minx + (w - 1) * cell,
        miny=miny, maxy=miny + (h - 1) * cell, zmin=zmin, zmax=zmax),
        bytes(w * 2), h)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        v = pdf["val"].to_numpy(np.float64)
        raw = (np.rint((v - zmin) / scale) + 1.0 if scale > 0
               else np.ones_like(v))
        buf = RG.scatter(pdf, (rows, w), 0, "<u2",
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy(),
                         vals=raw)
        return HEADER_SIZE + y0 * w * 2, buf

    RG.write_slabs(cells, path, bl.key(), (h, w), encode)
