"""BMP driver — Windows Device-Independent Bitmap, from the PUBLIC
BITMAPFILEHEADER/BITMAPINFOHEADER layout (reference
``frmts/bmp/bmpdataset.cpp``; same v3 40-byte info header, BI_RGB only).

Supported, like the reference's create path: 24-bit BGR truecolor and
8-bit paletted, bottom-up row order, rows padded to 4-byte multiples.

Spark mapping: the document kernel (``sources/_docio.py``) — one .bmp
file per row-block on write, one decode per file on read (vectorized
``frombuffer``); nothing is collected to the driver.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO
from gdal_spark.sources import _rawgrid as RG

_FILE_HDR = "<2sIHHI"   # magic, file size, reserved ×2, pixel-data offset
_INFO_HDR = "<IiiHHIIiiII"  # 40-byte BITMAPINFOHEADER


def bmp_bytes(arr: np.ndarray, palette: np.ndarray | None = None) -> bytes:
    """Serialize one image: (h, w, 3) uint8 RGB → 24-bit BGR;
    (h, w) uint8 indices + (n, 3) palette → 8-bit paletted."""
    if arr.ndim == 3 and arr.shape[2] == 3:
        if palette is not None:
            raise ValueError("bmp: palette given for a truecolor array")
        bits, ncol = 24, 0
        h, w = arr.shape[:2]
        rows = arr[:, :, ::-1].astype(np.uint8)  # RGB → BGR
        row_len = w * 3
    elif arr.ndim == 2:
        if palette is None or palette.ndim != 2 or palette.shape[1] != 3:
            raise ValueError("bmp: 8-bit image needs an (n, 3) palette")
        if int(arr.max(initial=0)) >= len(palette):
            raise ValueError("bmp: index out of palette range")
        bits, ncol = 8, len(palette)
        h, w = arr.shape
        rows = arr.astype(np.uint8)[:, :, None]
        row_len = w
    else:
        raise ValueError(f"bmp: shape {arr.shape} is not 24-bit/8-bit")
    stride = (row_len + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, :row_len] = rows.reshape(h, row_len)
    body = body[::-1]  # bottom-up
    pal = b""
    if ncol:
        bgra = np.zeros((ncol, 4), dtype=np.uint8)
        bgra[:, :3] = palette[:, ::-1]
        pal = bgra.tobytes()
    offset = 14 + 40 + len(pal)
    info = struct.pack(_INFO_HDR, 40, w, h, 1, bits, 0,
                       stride * h, 2835, 2835, ncol, 0)
    head = struct.pack(_FILE_HDR, b"BM", offset + stride * h, 0, 0, offset)
    return head + info + pal + body.tobytes()


def parse_bmp(buf: bytes) -> tuple[dict, np.ndarray]:
    """→ (header dict, array): 24-bit → (h, w, 3) RGB uint8; 8-bit →
    (h, w) indices with the palette in the header dict."""
    magic, _size, _r1, _r2, offset = struct.unpack_from(_FILE_HDR, buf, 0)
    if magic != b"BM":
        raise ValueError("bmp: bad magic")
    (hsize, w, h, planes, bits, comp, _img, _xp, _yp, ncol,
     _imp) = struct.unpack_from(_INFO_HDR, buf, 14)
    if hsize < 40 or planes != 1 or comp != 0:
        raise ValueError(f"bmp: unsupported header (size={hsize}, "
                         f"planes={planes}, compression={comp})")
    if bits not in (8, 24):
        raise ValueError(f"bmp: unsupported bit depth {bits}")
    top_down = h < 0
    h = abs(h)
    row_len = w * (3 if bits == 24 else 1)
    stride = (row_len + 3) & ~3
    body = np.frombuffer(buf, np.uint8, count=stride * h, offset=offset)
    rows = body.reshape(h, stride)[:, :row_len]
    if not top_down:
        rows = rows[::-1]
    hdr = {"width": w, "height": h, "bits": bits}
    if bits == 24:
        return hdr, rows.reshape(h, w, 3)[:, :, ::-1].copy()
    if ncol == 0:
        ncol = 256
    pal = np.frombuffer(buf, np.uint8, count=ncol * 4,
                        offset=14 + hsize).reshape(ncol, 4)
    hdr["palette"] = pal[:, 2::-1].copy()  # BGRA → RGB
    return hdr, rows.copy()


def write_rgb_bmps(cells: DataFrame, directory: str, width: int,
                   height: int, block_rows: int) -> int:
    """Distributed 24-bit sink over (gx, gy, r, g, b): one .bmp per
    row-block."""
    bl = RG.Blocks(height, block_rows)

    def encode(blk, pdf):
        _, y0, h = bl.span(blk)
        rgb = pdf[["r", "g", "b"]].to_numpy(np.int64)
        arr = RG.scatter(pdf, (h, width, 3), 0, np.uint8,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy(),
                         vals=rgb)
        return {f"block-{blk:05d}.bmp": bmp_bytes(arr)}

    return DIO.write_files(cells, directory, bl.key(), encode,
                           {"gy": height, "gx": width})


def read_rgb_bmps(spark: SparkSession, directory: str,
                  block_rows: int) -> DataFrame:
    """Distributed scan → (gx, gy, r, g, b); global rows recovered from
    the block filename (BMP carries no georef — the reference pairs it
    with a world file, out of scope here like the PNM driver)."""

    def decode(path, buf):
        hdr, arr = parse_bmp(buf)
        if hdr["bits"] == 8:  # expand through the palette
            arr = hdr["palette"][arr]
        gy, gx = DIO.grid_index(arr.shape,
                                y0=DIO.block_of(path) * block_rows)
        rgb = arr.reshape(-1, 3).astype(np.int64)
        return pd.DataFrame({"gx": gx, "gy": gy, "r": rgb[:, 0],
                             "g": rgb[:, 1], "b": rgb[:, 2]})

    return DIO.read_files(spark, f"{directory}/*.bmp", decode,
                          "gx long, gy long, r long, g long, b long")
