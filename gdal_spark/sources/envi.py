"""ENVI raster driver — from-scratch codec of the PUBLIC ENVI header +
flat-binary image format (the remote-sensing workhorse; reference
``frmts/raw/envidataset.cpp``).

Format: a text ``.hdr`` sidecar —

    ENVI
    samples = <W>
    lines   = <H>
    bands   = <B>
    header offset = 0
    data type = 1|2|4|5|12      (u8, i16, f32, f64, u16)
    interleave = bsq
    byte order = 0              (little-endian)
    map info = {Geographic Lat/Lon, 1, 1, <xll>, <ytop>, <dx>, <dy>}

— next to an extensionless/.img raw file holding the pixels.  This driver
implements BSQ interleave (band-sequential: band-major C-order), byte
order 0, the numeric data types above.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``),
one (band, row-block) slab per contiguous byte range.
"""

from __future__ import annotations

import os
import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

# ENVI data type code -> numpy little-endian dtype
_DTYPES = {1: "u1", 2: "<i2", 4: "<f4", 5: "<f8", 12: "<u2"}
_CODE_OF = {np.dtype(v).str.lstrip("<|=").replace(">", ""): k
            for k, v in _DTYPES.items()}
_CODE_OF.update({"u1": 1, "i2": 2, "f4": 4, "f8": 5, "u2": 12})


def hdr_bytes(w: int, h: int, bands: int, dtype_code: int,
              xll: float, ytop: float, dx: float, dy: float) -> bytes:
    return (
        "ENVI\n"
        f"samples = {w}\n"
        f"lines = {h}\n"
        f"bands = {bands}\n"
        "header offset = 0\n"
        "file type = ENVI Standard\n"
        f"data type = {dtype_code}\n"
        "interleave = bsq\n"
        "byte order = 0\n"
        f"map info = {{Geographic Lat/Lon, 1, 1, {xll!r}, {ytop!r}, "
        f"{dx!r}, {dy!r}}}\n"
    ).encode("ascii")


def parse_hdr(path: str) -> dict:
    """Parse the .hdr sidecar driver-side (a few hundred bytes)."""
    text = open(path, "r", encoding="ascii", errors="replace").read()
    if not text.lstrip().startswith("ENVI"):
        raise ValueError(f"envi: {path!r} is not an ENVI header")
    kv: dict = {}
    for m in re.finditer(
            r"^([a-z ]+?)\s*=\s*(\{[^}]*\}|[^\n]+)$", text, re.M | re.I):
        kv[m.group(1).strip().lower()] = m.group(2).strip()
    hdr = {
        "samples": int(kv["samples"]),
        "lines": int(kv["lines"]),
        "bands": int(kv.get("bands", "1")),
        "offset": int(kv.get("header offset", "0")),
        "dtype_code": int(kv["data type"]),
        "interleave": kv.get("interleave", "bsq").lower(),
        "byte_order": int(kv.get("byte order", "0")),
    }
    if hdr["interleave"] != "bsq":
        raise NotImplementedError(
            f"envi: interleave {hdr['interleave']!r} (BSQ only)")
    if hdr["byte_order"] != 0:
        raise NotImplementedError("envi: big-endian byte order")
    if hdr["dtype_code"] not in _DTYPES:
        raise NotImplementedError(
            f"envi: data type {hdr['dtype_code']}")
    mi = kv.get("map info")
    if mi:
        parts = [p.strip() for p in mi.strip("{}").split(",")]
        hdr["map_info"] = {
            "xll": float(parts[3]), "ytop": float(parts[4]),
            "dx": float(parts[5]), "dy": float(parts[6]),
        }
    return hdr


def _raw_path(hdr_path: str) -> str:
    base = hdr_path[:-4] if hdr_path.endswith(".hdr") else hdr_path
    return base + ".img"


def read_envi(
    spark: SparkSession, hdr_path: str, block_rows: int = 64,
) -> DataFrame:
    """Distributed BSQ scan → (band, gy, gx, val double): one (band,
    row-block) slab per pread of exactly its bytes."""
    hdr = parse_hdr(hdr_path)
    w, h, bands = hdr["samples"], hdr["lines"], hdr["bands"]
    np_dt = np.dtype(_DTYPES[hdr["dtype_code"]])
    bl = RG.Blocks(h, block_rows, bands)

    def decode(read, slab):
        b, y0, rows = bl.span(slab)
        yield b, y0, 0, read(
            hdr["offset"] + (b * h + y0) * w * np_dt.itemsize, (rows, w),
            np_dt)

    return RG.read_slabs(spark, _raw_path(hdr_path), bl.count, decode,
                         banded=True)


def write_envi(
    cells: DataFrame, hdr_path: str, w: int, h: int, bands: int,
    *, dtype: str = "f4", block_rows: int = 64, fill: float = 0.0,
    xll: float = 10.0, ytop: float = 50.0, cellsize: float = 1.0 / 1024.0,
) -> None:
    """Distributed BSQ sink over (band, gy, gx, val): .hdr + pre-extended
    raw file driver-side, then one pwrite per (band, row-block) slab."""
    if dtype not in _CODE_OF:
        raise ValueError(f"envi write: unsupported dtype {dtype!r}")
    code = _CODE_OF[dtype]
    np_dt = np.dtype(_DTYPES[code])
    raw = _raw_path(hdr_path)
    os.makedirs(os.path.dirname(hdr_path) or ".", exist_ok=True)
    with open(hdr_path, "wb") as fh:
        fh.write(hdr_bytes(w, h, bands, code, xll, ytop,
                           cellsize, cellsize))
    RG.preallocate(raw, b"", RG.fill_row(fill, np_dt, w), bands * h)
    bl = RG.Blocks(h, block_rows, bands)

    def encode(slab, pdf):
        b, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w), fill, np_dt,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy())
        return (b * h + y0) * w * np_dt.itemsize, buf

    RG.write_slabs(cells, raw, bl.key(banded=True), (bands, h, w), encode)
