"""FARSITE LCP landscape driver — from-scratch codec of the PUBLIC
FARSITE v.4 landscape-file format (reference
``frmts/raw/lcpdataset.cpp``).

Layout: a fixed 7316-byte little-endian header, then band-interleaved-
by-PIXEL (BIP) int16 samples — pixel stride = nbands·2, band offset =
(band−1)·2, line stride = nbands·2·width (lcpdataset.cpp:318).

Header fields this driver honours (lcpdataset.cpp:250-296, 124-154):

  off 0     int32  crown-fuels flag: 21 = present, 20 = absent
  off 4     int32  ground-fuels flag: 21 / 20
  off 8     int32  latitude (whole degrees)
  off 4164  int32  width;  off 4168  int32 height
  off 4172  f64 east, 4180 west, 4188 north, 4196 south
  off 4204  int32  linear unit (0 = meters, 1 = feet)
  off 4208  f64 cellX, 4216 f64 cellY
  off 6804  char[] description (NUL-terminated)

Band count is DERIVED from the two flags exactly as the reference does:
5 (base: elevation/slope/aspect/fuel/cover), +3 crown fuels, +2 ground
fuels → 5/7/8/10.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``):
a slab is a row-block, the contiguous unit under BIP, with each band
strided out of it."""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

HEADER_SIZE = 7316

_BAND_COUNT = {(False, False): 5, (False, True): 7,
               (True, False): 8, (True, True): 10}


def header_bytes(w: int, h: int, *, crown: bool, ground: bool,
                 latitude: int = 45, west: float = 0.0,
                 north: float = 0.0, cell: float = 30.0,
                 description: str = "gdal_spark landscape") -> bytes:
    buf = bytearray(HEADER_SIZE)
    struct.pack_into("<i", buf, 0, 21 if crown else 20)
    struct.pack_into("<i", buf, 4, 21 if ground else 20)
    struct.pack_into("<i", buf, 8, latitude)
    struct.pack_into("<2i", buf, 4164, w, h)
    east = west + w * cell
    south = north - h * cell
    struct.pack_into("<4d", buf, 4172, east, west, north, south)
    struct.pack_into("<i", buf, 4204, 0)  # meters
    struct.pack_into("<2d", buf, 4208, cell, cell)
    desc = description.encode("ascii")[:511]
    buf[6804:6804 + len(desc)] = desc
    return bytes(buf)


def parse_header(path: str) -> dict:
    with open(path, "rb") as fh:
        buf = fh.read(HEADER_SIZE)
    if len(buf) < HEADER_SIZE:
        raise ValueError("lcp: file shorter than the 7316-byte header")
    crown_flag = struct.unpack_from("<i", buf, 0)[0]
    ground_flag = struct.unpack_from("<i", buf, 4)[0]
    if crown_flag not in (20, 21) or ground_flag not in (20, 21):
        raise ValueError(
            f"lcp: bad crown/ground flags {crown_flag}/{ground_flag} "
            "(want 20 or 21)")
    crown, ground = crown_flag == 21, ground_flag == 21
    w, h = struct.unpack_from("<2i", buf, 4164)
    east, west, north, south = struct.unpack_from("<4d", buf, 4172)
    cellx, celly = struct.unpack_from("<2d", buf, 4208)
    desc = buf[6804:].split(b"\x00", 1)[0].decode("ascii", "replace")
    return {
        "w": w, "h": h, "bands": _BAND_COUNT[(crown, ground)],
        "crown": crown, "ground": ground,
        "latitude": struct.unpack_from("<i", buf, 8)[0],
        "west": west, "north": north, "east": east, "south": south,
        "cellx": cellx, "celly": celly, "description": desc,
    }


def read_lcp(spark: SparkSession, path: str,
             block_rows: int = 64) -> DataFrame:
    """Distributed BIP scan → (band, gy, gx, val long): one contiguous
    pread per row-block slab, numpy stride view per band."""
    hdr = parse_header(path)
    w, h, bands = hdr["w"], hdr["h"], hdr["bands"]
    bl = RG.Blocks(h, block_rows)

    def decode(read, slab):
        _, y0, rows = bl.span(slab)
        arr = read(HEADER_SIZE + y0 * w * bands * 2, (rows, w, bands), "<i2")
        for b in range(bands):
            yield b, y0, 0, arr[:, :, b]

    return RG.read_slabs(spark, path, bl.count, decode, banded=True,
                         val="long")


def write_lcp(
    cells: DataFrame, path: str, w: int, h: int,
    *, crown: bool = True, ground: bool = False,
    block_rows: int = 64, fill: int = -9999, **hdr_kw,
) -> None:
    """Distributed BIP sink over (band, gy, gx, val): header +
    pre-extended body driver-side, one row-block pwrite per slab."""
    bands = _BAND_COUNT[(crown, ground)]
    RG.preallocate(
        path, header_bytes(w, h, crown=crown, ground=ground, **hdr_kw),
        RG.fill_row(fill, "<i2", w * bands), h)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w, bands), fill, "<i2",
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy(),
                         pdf["band"].to_numpy(),
                         vals=pdf["val"].to_numpy(np.int64))
        return HEADER_SIZE + y0 * w * bands * 2, buf

    RG.write_slabs(cells, path, bl.key(), (bands, h, w), encode)
