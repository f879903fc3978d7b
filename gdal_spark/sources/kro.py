"""KRO (Kolor Raw) raster driver — from-scratch codec of the PUBLIC
Autopano KRO format (reference ``frmts/raw/krodataset.cpp``; layout per
the public wiki spec it cites).

Format:

* 20-byte header: magic ``KRO\\x01``, then BIG-ENDIAN uint32 width,
  height, depth (8/16/32 bits), component count;
* data rows top→bottom, pixel-interleaved (all components of one pixel
  adjacent), samples BIG-ENDIAN — the first big-endian pixel payload in
  this engine's raw-driver family (every other raw format here is
  little-endian), so it pins the byte-swap path;
* depth 8 = uint8, 16 = uint16, 32 = float32.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``):
a slab is a row-block, the contiguous unit under BIP.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

_DTYPES = {8: ">u1", 16: ">u2", 32: ">f4"}
_OF_NP = {"u1": 8, "u2": 16, "f4": 32}


def kro_header(w: int, h: int, depth: int, ncomp: int) -> bytes:
    return b"KRO\x01" + struct.pack(">4I", w, h, depth, ncomp)


def parse_kro_header(buf: bytes) -> dict:
    if buf[0:4] != b"KRO\x01":
        raise ValueError("kro: missing KRO magic")
    w, h, depth, ncomp = struct.unpack_from(">4I", buf, 4)
    if depth not in _DTYPES:
        raise ValueError(f"kro: unhandled depth {depth}")
    return {"w": w, "h": h, "depth": depth, "ncomp": ncomp,
            "dtype": _DTYPES[depth]}


def read_kro(spark: SparkSession, path: str,
             block_rows: int = 64) -> DataFrame:
    """Distributed scan → (band, gy, gx, val double); one row-block
    pread per slab, big-endian samples decoded by the numpy view."""
    with open(path, "rb") as fh:
        hdr = parse_kro_header(fh.read(20))
    w, h, ncomp = hdr["w"], hdr["h"], hdr["ncomp"]
    np_dt = np.dtype(hdr["dtype"])
    bl = RG.Blocks(h, block_rows)

    def decode(read, slab):
        _, y0, rows = bl.span(slab)
        arr = read(20 + y0 * w * ncomp * np_dt.itemsize, (rows, w, ncomp),
                   np_dt)
        for b in range(ncomp):
            yield b, y0, 0, arr[:, :, b]

    return RG.read_slabs(spark, path, bl.count, decode, banded=True)


def write_kro(
    cells: DataFrame, path: str, w: int, h: int, ncomp: int,
    *, dtype: str = "u2", block_rows: int = 64, fill: float = 0.0,
) -> None:
    """Distributed sink over (band, gy, gx, val): header + pre-extended
    file driver-side, one row-block pwrite per slab (BIP layout makes a
    row-block the contiguous unit); samples byte-swapped to big-endian
    by the numpy dtype."""
    if dtype not in _OF_NP:
        raise ValueError(f"kro write: unsupported dtype {dtype!r}")
    np_dt = np.dtype(_DTYPES[_OF_NP[dtype]])
    data0 = RG.preallocate(path, kro_header(w, h, _OF_NP[dtype], ncomp),
                           RG.fill_row(fill, np_dt, w * ncomp), h)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w, ncomp), fill, np_dt,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy(),
                         pdf["band"].to_numpy())
        return data0 + y0 * w * ncomp * np_dt.itemsize, buf

    RG.write_slabs(cells, path, bl.key(), (ncomp, h, w), encode)
