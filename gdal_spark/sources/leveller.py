"""Leveller TER driver — from-scratch codec of the PUBLIC Daylon
Leveller heightfield format v7 (reference
``frmts/leveller/levellerdataset.cpp``).

Layout: magic ``trrn`` + a version byte (7 = TER v7,
levellerdataset.cpp:711-713), then a TAG CHAIN — each tag is

    u8   descriptor length (1..64)
    ...  descriptor (ASCII tag name)
    u32  data length (little-endian)
    ...  data

walked sequentially to locate any tag (locate_data,
levellerdataset.cpp:980-1025).  Tags this driver honours: ``hf_w`` /
``hf_b`` (u32 width/height), ``coordsys_em_scale`` / ``_base`` (f64
elevation scaling, value = raw·scale + base), and ``hf_data`` — the
w·h float32 little-endian heightfield, rows TOP-down
(IReadBlock seeks nDataOffset + row·rowbytes with no flip,
levellerdataset.cpp:514-528).

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``)
over the hf_data payload; the tag chain is driver-side metadata only."""

from __future__ import annotations

import os
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG


def _tag(name: str, data: bytes) -> bytes:
    nb = name.encode("ascii")
    return bytes([len(nb)]) + nb + struct.pack("<I", len(data)) + data


def walk_tags(path: str) -> dict:
    """→ {tag: (offset, length)} for every tag in the chain."""
    out: dict[str, tuple[int, int]] = {}
    with open(path, "rb") as fh:
        head = fh.read(5)
        if head[:4] != b"trrn":
            raise ValueError("leveller: missing trrn magic")
        if head[4] > 12:
            raise ValueError(f"leveller: implausible version {head[4]}")
        while True:
            c = fh.read(1)
            if not c:
                break
            dlen = c[0]
            if dlen == 0 or dlen > 64:
                raise ValueError(f"leveller: bad descriptor length {dlen}")
            name = fh.read(dlen).decode("ascii")
            datalen = struct.unpack("<I", fh.read(4))[0]
            out[name] = (fh.tell(), datalen)
            fh.seek(datalen, os.SEEK_CUR)
    return out


def parse_header(path: str) -> dict:
    tags = walk_tags(path)
    if "hf_w" not in tags or "hf_b" not in tags or "hf_data" not in tags:
        raise ValueError("leveller: missing hf_w/hf_b/hf_data tags")
    with open(path, "rb") as fh:
        def u32(tag: str) -> int:
            off, _ = tags[tag]
            fh.seek(off)
            return struct.unpack("<I", fh.read(4))[0]

        def f64(tag: str, default: float) -> float:
            if tag not in tags:
                return default
            off, _ = tags[tag]
            fh.seek(off)
            return struct.unpack("<d", fh.read(8))[0]

        w, h = u32("hf_w"), u32("hf_b")
        scale = f64("coordsys_em_scale", 1.0)
        base = f64("coordsys_em_base", 0.0)
    off, dlen = tags["hf_data"]
    if dlen < w * h * 4:
        raise ValueError("leveller: hf_data shorter than w*h floats")
    return {"w": w, "h": h, "scale": scale, "base": base, "data0": off}


def read_leveller(spark: SparkSession, path: str,
                  block_rows: int = 64) -> DataFrame:
    """Distributed scan → (gy, gx, val double), gy top-down; value =
    raw·em_scale + em_base."""
    hdr = parse_header(path)
    w, h = hdr["w"], hdr["h"]
    bl = RG.Blocks(h, block_rows)

    def decode(read, slab):
        _, y0, rows = bl.span(slab)
        arr = read(hdr["data0"] + y0 * w * 4, (rows, w), "<f4")
        yield 0, y0, 0, arr.astype(np.float64) * hdr["scale"] + hdr["base"]

    return RG.read_slabs(spark, path, bl.count, decode)


def write_leveller(
    cells: DataFrame, path: str, w: int, h: int,
    *, em_scale: float = 1.0, em_base: float = 0.0,
    block_rows: int = 64,
) -> None:
    """Distributed sink over (gy, gx, val): trrn header + tag chain
    driver-side (hf_data zero-filled), one row-block pwrite per slab.
    Raw stored value = (val − em_base)/em_scale."""
    head = (b"trrn" + bytes([7]) + _tag("hf_w", struct.pack("<I", w))
            + _tag("hf_b", struct.pack("<I", h)))
    if em_scale != 1.0 or em_base != 0.0:
        head += (_tag("coordsys_haselevm", struct.pack("<I", 1))
                 + _tag("coordsys_em_scale", struct.pack("<d", em_scale))
                 + _tag("coordsys_em_base", struct.pack("<d", em_base)))
    nb = b"hf_data"
    head += bytes([len(nb)]) + nb + struct.pack("<I", w * h * 4)
    data0 = RG.preallocate(path, head, bytes(w * 4), h)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w), 0, "<f4",
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy(),
                         vals=(pdf["val"].to_numpy(np.float64) - em_base)
                         / em_scale)
        return data0 + y0 * w * 4, buf

    RG.write_slabs(cells, path, bl.key(), (h, w), encode)
