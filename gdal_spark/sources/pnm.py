"""PNM driver (PGM P5 / PPM P6, binary) — the PUBLIC netpbm raster formats
(reference ``frmts/pnm/pnmdataset.cpp``).

Format: ASCII header ``P5|P6 <width> <height> <maxval>`` (whitespace/
comment separated) followed by raw big-endian samples — 1 byte per sample
for maxval < 256, 2 bytes otherwise; P6 interleaves RGB per pixel.

Spark mapping: the document kernel (``sources/_docio.py``) — one
file per row-block on write, one decode per file on read (vectorized
``frombuffer``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO
from gdal_spark.sources import _rawgrid as RG


def pnm_bytes(arr: np.ndarray, maxval: int = 255) -> bytes:
    """Serialize one image: (h, w) uint -> P5, (h, w, 3) -> P6."""
    if arr.ndim == 2:
        magic = b"P5"
    elif arr.ndim == 3 and arr.shape[2] == 3:
        magic = b"P6"
    else:
        raise ValueError(f"pnm: shape {arr.shape} is not P5/P6")
    if maxval < 1 or maxval > 65535:
        raise ValueError(f"pnm: maxval {maxval} out of range")
    dt = ">u1" if maxval < 256 else ">u2"
    h, w = arr.shape[:2]
    head = b"%s\n%d %d\n%d\n" % (magic, w, h, maxval)
    return head + arr.astype(dt).tobytes(order="C")


def parse_pnm(buf: bytes) -> tuple[dict, np.ndarray]:
    """→ (header dict, array (h, w) or (h, w, 3), native order)."""
    if buf[:2] not in (b"P5", b"P6"):
        raise ValueError("pnm: not a binary PGM/PPM")
    magic = buf[:2].decode()
    # header tokens: magic, w, h, maxval — comments (#...) skipped
    pos, toks = 2, []
    while len(toks) < 3:
        while pos < len(buf) and buf[pos:pos + 1].isspace():
            pos += 1
        if buf[pos:pos + 1] == b"#":
            while buf[pos:pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos:pos + 1].isspace():
            pos += 1
        toks.append(int(buf[start:pos]))
    pos += 1  # single whitespace after maxval, per spec
    w, h, maxval = toks
    dt = np.dtype(">u1" if maxval < 256 else ">u2")
    bands = 3 if magic == "P6" else 1
    arr = np.frombuffer(buf, dtype=dt, count=w * h * bands, offset=pos)
    arr = arr.reshape((h, w, 3) if bands == 3 else (h, w))
    return {"magic": magic, "width": w, "height": h, "maxval": maxval}, \
        arr.astype(dt.newbyteorder("="))


def write_gray_pnms(cells: DataFrame, directory: str, width: int,
                    height: int, block_rows: int,
                    maxval: int = 255) -> int:
    """Distributed P5 sink over (gx, gy, val): one .pgm per row-block."""
    bl = RG.Blocks(height, block_rows)

    def encode(blk, pdf):
        _, y0, h = bl.span(blk)
        arr = RG.scatter(pdf, (h, width), 0, np.int64,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy())
        return {f"block-{blk:05d}.pgm": pnm_bytes(arr, maxval=maxval)}

    return DIO.write_files(cells, directory, bl.key(), encode,
                           {"gy": height, "gx": width})


def read_gray_pnms(spark: SparkSession, directory: str,
                   block_rows: int) -> DataFrame:
    """Distributed P5 scan → (gx, gy, val); global rows recovered from the
    block filename (the format carries no georef — the reference's PNM
    driver behaves the same, world files aside)."""

    def decode(path, buf):
        _, arr = parse_pnm(buf)
        gy, gx = DIO.grid_index(arr.shape,
                                y0=DIO.block_of(path) * block_rows)
        return pd.DataFrame({"gx": gx, "gy": gy,
                             "val": arr.ravel().astype(np.int64)})

    return DIO.read_files(spark, f"{directory}/*.pgm", decode,
                          "gx long, gy long, val long")
