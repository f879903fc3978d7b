"""Golden Software Surfer grid drivers — from-scratch codecs of the
PUBLIC Surfer 6 grid formats (reference ``frmts/gsg/gsagdataset.cpp``
ASCII and ``frmts/gsg/gsbgdataset.cpp`` binary).

Two sibling layouts, both BOTTOM-UP (file row 0 is the SOUTH row):

* ``DSAA`` (GSAG, ASCII)::

      DSAA
      <nx> <ny>
      <xlo> <xhi>
      <ylo> <yhi>
      <zlo> <zhi>
      z z z ...      (nx values per grid row, south row first,
                      wrapped at ~10 values per text line)

* ``DSBB`` (GSBG, binary): magic ``DSBB``, int16 nx, int16 ny
  (little-endian — the format predates big grids), then 6 doubles
  xlo xhi ylo yhi zlo zhi, then ny rows of nx float32, south row
  first.

Blanked nodes carry the format's famous blank value 1.70141e38
(gsbgdataset.cpp:71 pins the exact float32 ``1.701410009187828e+38``;
gsagdataset.cpp:72 the double ``1.70141E+38``) and are DROPPED on read.

Spark mapping — the binary layouts use the raw-raster slab kernel
(``sources/_rawgrid.py``) with the bottom-up row flip in the slab
offsets; ASCII text is written per-row by one task per grid row and
read with a driver-side header parse + per-slab line ranges."""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _rawgrid as RG

BLANK_F32 = np.float32(1.701410009187828e38)
BLANK_F64 = 1.70141e38
_CW = 18  # DSAA cell width of write_gsag's fixed-width rows


def _blanked(vals: np.ndarray) -> np.ma.MaskedArray:
    """Float64 grid values with the blank nodes masked."""
    return np.ma.masked_where(np.isclose(vals, BLANK_F64, rtol=1e-6), vals)


# ---------------------------------------------------------------------------
# DSBB — Surfer 6 binary
# ---------------------------------------------------------------------------

def parse_gsbg_header(path: str) -> dict:
    with open(path, "rb") as fh:
        buf = fh.read(56)
    if buf[0:4] != b"DSBB":
        raise ValueError("surfer: missing DSBB magic")
    nx, ny = struct.unpack_from("<2h", buf, 4)
    xlo, xhi, ylo, yhi, zlo, zhi = struct.unpack_from("<6d", buf, 8)
    return {"w": nx, "h": ny, "xlo": xlo, "xhi": xhi, "ylo": ylo,
            "yhi": yhi, "zlo": zlo, "zhi": zhi, "data0": 56}


def read_gsbg(spark: SparkSession, path: str,
              block_rows: int = 64) -> DataFrame:
    """Distributed scan → (gy, gx, val double) with gy top-down; the
    file's south-first rows are flipped in the slab offset math.
    Blanked nodes (1.70141e38) are dropped."""
    hdr = parse_gsbg_header(path)
    w, h = hdr["w"], hdr["h"]
    bl = RG.Blocks(h, block_rows)

    def decode(read, slab):
        _, y0, rows = bl.span(slab)
        # top-down rows y0..y0+rows-1 live at file rows h-1-y, one
        # contiguous descending range
        arr = read(56 + (h - (y0 + rows)) * w * 4, (rows, w), "<f4")
        yield 0, y0, 0, _blanked(arr[::-1].astype(np.float64))

    return RG.read_slabs(spark, path, bl.count, decode)


def write_gsbg(
    cells: DataFrame, path: str, w: int, h: int,
    *, xlo: float = 0.0, ylo: float = 0.0, cell: float = 1.0,
    block_rows: int = 64,
) -> None:
    """Distributed binary sink over (gy, gx, val): header + blank-filled
    body driver-side, one row-block pwrite per slab at the flipped
    offset.  zlo/zhi come from one bounded aggregate."""
    lo, hi = RG.value_range(cells)
    head = b"DSBB" + struct.pack("<2h", w, h) + struct.pack(
        "<6d", xlo, xlo + (w - 1) * cell, ylo, ylo + (h - 1) * cell, lo, hi)
    data0 = RG.preallocate(path, head, RG.fill_row(BLANK_F32, "<f4", w), h)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w), BLANK_F32, "<f4",
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy())
        # flip: top-down rows y0.. go to file rows h-1-y (descending)
        return data0 + (h - (y0 + rows)) * w * 4, buf[::-1]

    RG.write_slabs(cells, path, bl.key(), (h, w), encode)


# ---------------------------------------------------------------------------
# DSAA — Surfer ASCII (one text row per grid row keeps the scan splittable)
# ---------------------------------------------------------------------------

def _text_row(vals: np.ndarray) -> bytes:
    """One DSAA grid row as a fixed-width text line."""
    return ("".join(f"{v:.12g}".rjust(_CW) for v in vals)
            + "\r\n").encode("ascii")


def write_gsag(
    cells: DataFrame, path: str, w: int, h: int,
    *, xlo: float = 0.0, ylo: float = 0.0, cell: float = 1.0,
) -> None:
    """ASCII sink: 5-line header driver-side, then every grid row as one
    text line (a legal wrap choice — readers split on whitespace),
    assembled per grid-row slab and written with a single pwrite into
    a pre-sized region via fixed-width formatting."""
    lo, hi = RG.value_range(cells)
    header = (
        "DSAA\r\n"
        f"{w} {h}\r\n"
        f"{xlo:.7g} {xlo + (w - 1) * cell:.7g}\r\n"
        f"{ylo:.7g} {ylo + (h - 1) * cell:.7g}\r\n"
        f"{lo:.7g} {hi:.7g}\r\n"
    ).encode("ascii")
    # fixed-width cells make every row line the same byte length, so
    # tasks can pwrite disjoint ranges without a shuffle to one file
    row_len = w * _CW + 2
    data0 = RG.preallocate(path, header, _text_row(np.full(w, BLANK_F64)), h)

    def encode(gy, pdf):
        vals = np.full(w, BLANK_F64)
        vals[pdf["gx"].to_numpy()] = pdf["val"].to_numpy()
        return data0 + (h - 1 - gy) * row_len, _text_row(vals)  # bottom-up

    RG.write_slabs(cells, path, F.col("gy").cast("long"), (h, w), encode)


def read_gsag(spark: SparkSession, path: str,
              block_rows: int = 64) -> DataFrame:
    """ASCII scan.  Fixed-width files (write_gsag's layout, detected by
    size = header + h·row_len) read fully distributed — one row-block
    pread per slab, same kernel as the binary path.  Foreign
    files with arbitrary whitespace wrapping are a sequential-prefix
    problem (a token's grid position depends on every byte before it);
    those fall back to a driver-side parse, bounded by the format's
    interchange-sized reality, then parallelize."""
    with open(path, "rb") as fh:
        head = fh.read(4096).decode("ascii", "replace")
    lines = head.splitlines()
    if not lines or lines[0].strip() != "DSAA":
        raise ValueError("surfer: missing DSAA magic")
    w, h = (int(t) for t in lines[1].split())
    header_len = sum(len(ln) + 2 for ln in lines[:5])  # CRLF
    row_len = w * _CW + 2

    if os.path.getsize(path) == header_len + h * row_len:
        bl = RG.Blocks(h, block_rows)

        def decode(read, slab):
            _, y0, rows = bl.span(slab)
            blob = read(header_len + (h - (y0 + rows)) * row_len,
                        (rows * row_len,), "u1").tobytes()
            arr = np.array([
                [float(ln[i * _CW:(i + 1) * _CW]) for i in range(w)]
                for ln in blob.decode("ascii").splitlines()])[::-1]
            yield 0, y0, 0, _blanked(arr)

        return RG.read_slabs(spark, path, bl.count, decode)

    # foreign wrap: sequential token scan on the driver (bounded:
    # DSAA is an interchange format), then parallelize
    toks: list[float] = []
    with open(path) as fh:
        for i, ln in enumerate(fh):
            if i >= 5:
                toks.extend(float(t) for t in ln.split())
    if len(toks) != w * h:
        raise ValueError(f"surfer: expected {w * h} values, "
                         f"got {len(toks)}")
    arr = np.array(toks).reshape(h, w)[::-1]  # to top-down
    gy, gx = np.nonzero(~np.ma.getmaskarray(_blanked(arr)))
    return spark.createDataFrame(pd.DataFrame({
        "gy": gy.astype(np.int64), "gx": gx.astype(np.int64),
        "val": arr[gy, gx]}))


# ---------------------------------------------------------------------------
# Surfer 7 (GS7BG) — the tagged-section sibling (frmts/gsg/gs7bgdataset.cpp)
# ---------------------------------------------------------------------------

_S7_HEADER_TAG = 0x42525344  # 'DSRB' on disk (little-endian)
_S7_GRID_TAG = 0x44495247    # 'GRID'
_S7_DATA_TAG = 0x41544144    # 'DATA'


def parse_gs7bg_header(path: str) -> dict:
    """Walk the tagged sections (gs7bgdataset.cpp:519-745): DSRB header
    first, unknown sections skipped by size, GRID's 72-byte info block
    (rows, cols, minX, minY, dx, dy, minZ, maxZ, rotation, blank), then
    DATA — whose payload offset is returned."""
    with open(path, "rb") as fh:
        tag, size = struct.unpack("<2i", fh.read(8))
        if tag != _S7_HEADER_TAG:
            raise ValueError("surfer7: missing DSRB header tag")
        fh.seek(size, os.SEEK_CUR)  # version section
        while True:
            head = fh.read(8)
            if len(head) < 8:
                raise ValueError("surfer7: no GRID section")
            tag, size = struct.unpack("<2i", head)
            if tag == _S7_GRID_TAG:
                break
            fh.seek(size, os.SEEK_CUR)
        if size != 72:
            raise ValueError(f"surfer7: GRID info size {size} != 72")
        h, w = struct.unpack("<2i", fh.read(8))
        (minx, miny, dx, dy, zmin, zmax, rot,
         blank) = struct.unpack("<8d", fh.read(64))
        tag, size = struct.unpack("<2i", fh.read(8))
        if tag != _S7_DATA_TAG:
            raise ValueError("surfer7: GRID not followed by DATA")
        if size < w * h * 8:
            raise ValueError("surfer7: DATA shorter than rows*cols")
        return {"w": w, "h": h, "minx": minx, "miny": miny,
                "dx": dx, "dy": dy, "zmin": zmin, "zmax": zmax,
                "blank": blank, "data0": fh.tell()}


def read_gs7bg(spark: SparkSession, path: str,
               block_rows: int = 64) -> DataFrame:
    """Distributed scan → (gy, gx, val double), gy top-down (the file's
    rows are bottom-up like DSBB); nodes at/above the blank value are
    dropped (gs7bgdataset.cpp:191)."""
    hdr = parse_gs7bg_header(path)
    w, h = hdr["w"], hdr["h"]
    bl = RG.Blocks(h, block_rows)

    def decode(read, slab):
        _, y0, rows = bl.span(slab)
        arr = read(hdr["data0"] + (h - (y0 + rows)) * w * 8, (rows, w),
                   "<f8")[::-1]
        yield 0, y0, 0, np.ma.masked_where(
            ~(arr < hdr["blank"] * (1 - 1e-9)), arr)

    return RG.read_slabs(spark, path, bl.count, decode)


def write_gs7bg(
    cells: DataFrame, path: str, w: int, h: int,
    *, xlo: float = 0.0, ylo: float = 0.0, cell: float = 1.0,
    block_rows: int = 64,
) -> None:
    """Distributed sink over (gy, gx, val): tagged header sections +
    blank-filled DATA payload driver-side, one row-block pwrite per
    slab at the flipped offset."""
    lo, hi = RG.value_range(cells)
    head = (struct.pack("<3i", _S7_HEADER_TAG, 4, 1)
            + struct.pack("<2i", _S7_GRID_TAG, 72) + struct.pack("<2i", h, w)
            + struct.pack("<8d", xlo, ylo, cell, cell, lo, hi, 0.0,
                          BLANK_F64)
            + struct.pack("<2i", _S7_DATA_TAG, w * h * 8))
    data0 = RG.preallocate(path, head, RG.fill_row(BLANK_F64, "<f8", w), h)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w), BLANK_F64, "<f8",
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy())
        return data0 + (h - (y0 + rows)) * w * 8, buf[::-1]

    RG.write_slabs(cells, path, bl.key(), (h, w), encode)
