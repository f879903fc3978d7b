"""DTED elevation driver — from-scratch codec of the PUBLIC military
elevation format MIL-PRF-89020B (reference reads/writes it in
``frmts/dted/dted_api.c`` / ``dted_create.c``; semantics cited below,
code is an independent numpy formulation).

Format (public spec):

* file = UHL (80 bytes, ASCII) + DSI (648) + ACC (2700) + one DATA
  RECORD per longitude column, west→east;
* UHL carries the georeferencing: ``UHL1`` magic, lon/lat of the SW
  origin as DDDMMSSH / DDDMMSSH 8-char DMS fields (offsets 4 / 12),
  lon/lat sample intervals in TENTHS OF ARC-SECONDS (%04d at offsets
  20 / 24), column/row counts (%04d at offsets 47 / 51) —
  dted_api.c:224-230 parses exactly these;
* data record = 8-byte header (0xAA sentinel, 3-byte block count,
  2-byte duplicated column index) + ``n_lat`` big-endian SIGNED
  MAGNITUDE 16-bit elevations stored SOUTH→NORTH (bit 15 = sign,
  magnitude in bits 0-14 — dted_api.c:639-649, dted_create.c
  DTEDWriteProfile) + a 4-byte big-endian checksum = unsigned byte sum
  of the record before it (dted_api.c:683-693);
* nodata is -32767 by convention (DTED_NODATA_VALUE).

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.dt1`` per 1×1-degree cell on write (a cell is bounded), one decode
per cell on read with fully vectorized numpy record parsing (sentinel +
checksum verified for every column).
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _docio as DIO
from gdal_spark.sources import _rawgrid as RG

UHL_SIZE, DSI_SIZE, ACC_SIZE = 80, 648, 2700
NODATA = -32767

_NAME_RE = re.compile(r"([ns])(\d{2})_([ew])(\d{3})\.dt1$", re.IGNORECASE)


def dted_name(lat_sw: int, lon_sw: int) -> str:
    ns = "n" if lat_sw >= 0 else "s"
    ew = "e" if lon_sw >= 0 else "w"
    return f"{ns}{abs(lat_sw):02d}_{ew}{abs(lon_sw):03d}.dt1"


def _dms8(deg: int, hemi_pos: str, hemi_neg: str) -> bytes:
    """8-char DDDMMSSH field for an integer-degree origin."""
    h = hemi_pos if deg >= 0 else hemi_neg
    return f"{abs(deg):03d}0000{h}".encode("ascii")


def _parse_dms8(field: bytes) -> float:
    deg = int(field[0:3])
    minutes = int(field[3:5])
    sec = int(field[5:7])
    v = deg + minutes / 60.0 + sec / 3600.0
    return -v if field[7:8] in (b"S", b"W") else v


def dted_bytes(arr: np.ndarray, lat_sw: int, lon_sw: int) -> bytes:
    """Serialize one cell.  ``arr`` is (n_lat, n_lon) int16 with ROW 0 =
    the SOUTH edge (the record's native order); 3600 must be divisible
    by both n-1 so the UHL tenth-of-arcsecond intervals are exact."""
    n_lat, n_lon = arr.shape
    for n in (n_lat, n_lon):
        if n < 2 or 3600 % (n - 1):
            raise ValueError(f"dted: 3600 % (n-1) != 0 for n={n}")
        if (3600 // (n - 1)) * 10 > 9999:
            # the UHL interval field is 4 chars of tenth-arcseconds —
            # grids coarser than 999.9 arcsec cannot be represented
            raise ValueError(f"dted: interval overflows UHL field for n={n}")
    if np.any(np.abs(arr.astype(np.int64)) > 0x7FFF):
        raise ValueError("dted: |elevation| exceeds signed-magnitude range")

    uhl = bytearray(b" " * UHL_SIZE)
    uhl[0:4] = b"UHL1"
    uhl[4:12] = _dms8(lon_sw, "E", "W")
    uhl[12:20] = _dms8(lat_sw, "N", "S")
    uhl[20:24] = b"%04d" % ((3600 // (n_lon - 1)) * 10)
    uhl[24:28] = b"%04d" % ((3600 // (n_lat - 1)) * 10)
    uhl[28:32] = b"NA  "
    uhl[32:35] = b"U  "
    uhl[47:51] = b"%04d" % n_lon
    uhl[51:55] = b"%04d" % n_lat
    uhl[55:56] = b"0"

    dsi = bytearray(b" " * DSI_SIZE)
    dsi[0:3] = b"DSI"
    dsi[3:4] = b"U"
    dsi[59:64] = b"DTED1"
    dsi[281:285] = b"%04d" % n_lat
    dsi[285:289] = b"%04d" % n_lon

    acc = bytearray(b" " * ACC_SIZE)
    acc[0:3] = b"ACC"

    # data records, fully vectorized: one row per longitude column
    vals = arr.astype(np.int32)
    words = (np.abs(vals) & 0x7FFF) | np.where(vals < 0, 0x8000, 0)
    rec_len = 12 + 2 * n_lat
    rec = np.zeros((n_lon, rec_len), dtype=np.uint8)
    cols = np.arange(n_lon, dtype=np.uint32)
    rec[:, 0] = 0xAA
    rec[:, 2] = (cols >> 8) & 0xFF
    rec[:, 3] = cols & 0xFF
    rec[:, 4] = rec[:, 2]
    rec[:, 5] = rec[:, 3]
    # words is (n_lat, n_lon) south-first; record wants south-first per col
    rec[:, 8:8 + 2 * n_lat] = (
        words.T.astype(">u2", order="C").view(np.uint8)
        .reshape(n_lon, 2 * n_lat))
    ck = rec[:, :8 + 2 * n_lat].astype(np.uint32).sum(axis=1)
    for b in range(4):
        rec[:, 8 + 2 * n_lat + b] = ((ck >> (24 - 8 * b)) & 0xFF).astype(
            np.uint8)
    return bytes(uhl) + bytes(dsi) + bytes(acc) + rec.tobytes(order="C")


def parse_dted(buf: bytes):
    """→ ``(lat_sw, lon_sw, arr)`` with ``arr`` (n_lat, n_lon) int16,
    row 0 = south.  Sentinel + checksum verified on EVERY column (the
    reference warns/fails per-profile, dted_api.c:711-730)."""
    if buf[0:4] != b"UHL1":
        raise ValueError("dted: missing UHL1 magic")
    lon_sw = _parse_dms8(bytes(buf[4:12]))
    lat_sw = _parse_dms8(bytes(buf[12:20]))
    n_lon = int(buf[47:51])
    n_lat = int(buf[51:55])
    off = UHL_SIZE + DSI_SIZE + ACC_SIZE
    rec_len = 12 + 2 * n_lat
    want = off + n_lon * rec_len
    if len(buf) < want:
        raise ValueError(f"dted: truncated ({len(buf)} < {want} bytes)")
    rec = np.frombuffer(buf, dtype=np.uint8, count=n_lon * rec_len,
                        offset=off).reshape(n_lon, rec_len)
    if not np.all(rec[:, 0] == 0xAA):
        raise ValueError("dted: bad record sentinel")
    ck = rec[:, :8 + 2 * n_lat].astype(np.uint32).sum(axis=1)
    stored = (
        (rec[:, 8 + 2 * n_lat].astype(np.uint32) << 24)
        | (rec[:, 9 + 2 * n_lat].astype(np.uint32) << 16)
        | (rec[:, 10 + 2 * n_lat].astype(np.uint32) << 8)
        | rec[:, 11 + 2 * n_lat].astype(np.uint32))
    bad = np.nonzero(ck != stored)[0]
    if bad.size:
        raise ValueError(f"dted: checksum mismatch on column {bad[0]}")
    words = rec[:, 8:8 + 2 * n_lat].reshape(n_lon, n_lat, 2)
    mag = ((words[:, :, 0].astype(np.int32) & 0x7F) << 8) \
        | words[:, :, 1].astype(np.int32)
    vals = np.where(words[:, :, 0] & 0x80, -mag, mag).astype(np.int16)
    return int(round(lat_sw)), int(round(lon_sw)), vals.T.copy()


def write_dted_cells(cells: DataFrame, directory: str,
                     n_lat: int, n_lon: int) -> int:
    """Distributed .dt1 sink over (lat_sw, lon_sw, row, col, elev) —
    row 0 = the cell's SOUTH edge, col 0 = west.  Absent samples are
    written as NODATA; one file per 1-degree cell (bounded task)."""

    def encode(tile, pdf):
        lat_sw, lon_sw = map(int, tile)
        arr = RG.scatter(pdf, (n_lat, n_lon), NODATA, np.int16,
                         pdf["row"].to_numpy(), pdf["col"].to_numpy(),
                         vals=pdf["elev"].to_numpy(np.int64))
        return {dted_name(lat_sw, lon_sw): dted_bytes(arr, lat_sw, lon_sw)}

    return DIO.write_files(cells, directory,
                           (F.col("lat_sw"), F.col("lon_sw")), encode,
                           {"row": n_lat, "col": n_lon})


def read_dted(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed .dt1 scan → (lat_sw, lon_sw, row, col, elev, lon, lat);
    NODATA dropped.  lon/lat come from the UHL origin + interval fields
    (the reference's geotransform, dteddataset.cpp)."""

    def decode(path, buf):
        lat_sw, lon_sw, arr = parse_dted(buf)
        n_lat, n_lon = arr.shape
        keep = arr != NODATA
        rows, cols = DIO.grid_index(arr.shape, keep)
        return DIO.tile_frame(lat_sw, lon_sw, rows, cols, arr[keep],
                              lon_sw + cols / (n_lon - 1.0),
                              lat_sw + rows / (n_lat - 1.0))

    return DIO.read_files(spark, f"{directory}/*.dt1", decode,
                          DIO.TILE_SCHEMA)
