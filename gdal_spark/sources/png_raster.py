"""PNG raster driver (PNG 1.2 spec; reference ``frmts/png/pngdataset.cpp``).

Extends the deterministic tile-oracle codec (``functions/png.py``, filter-0
grayscale-8 only) to the full driver surface the reference exposes:

* all FIVE scanline filter types (None/Sub/Up/Average/Paeth, PNG 1.2 §6)
  on decode; encode uses a pinned deterministic per-row schedule
  (``row % 5``) so every filter path is exercised and the byte stream
  stays build-independent,
* 8-bit and 16-bit (big-endian, spec §7.1) grayscale sample depths —
  the Byte/UInt16 band types the reference PNG driver supports,
* georeferencing via the ESRI world-file sidecar (``.wld``), exactly the
  mechanism the reference uses for PNG (``GDALReadWorldFile`` /
  ``pngdataset.cpp`` SetGeoTransform → world file): 6 decimal lines
  xres / rot / rot / -yres / center-x / center-y of the UL pixel.

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.png`` (+ ``.wld``) per row-block on write, one decode per file on read
(numpy decode), GLOBAL pixel coordinates recovered from each file's
world file.  Filters are decoded vectorized where the spec allows (Up
fully, Sub via the cumulative recurrence) and per-pixel only for the
genuinely sequential Average/Paeth recurrences — rows are bounded by the
block width, never by dataset size.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.functions.png import PNG_SIG, _chunk
from gdal_spark.sources import _docio as DIO
from gdal_spark.sources import _rawgrid as RG


def _filter_row(raw: np.ndarray, prev: np.ndarray, ftype: int,
                bpp: int) -> np.ndarray:
    """Apply PNG filter ``ftype`` to one raw scanline (encode side — all
    references are raw bytes, so this is pure vector math, PNG 1.2 §6)."""
    raw16 = raw.astype(np.int64)
    left = np.zeros_like(raw16)
    left[bpp:] = raw16[:-bpp]
    up = prev.astype(np.int64)
    ul = np.zeros_like(up)
    ul[bpp:] = up[:-bpp]
    if ftype == 0:
        out = raw16
    elif ftype == 1:
        out = raw16 - left
    elif ftype == 2:
        out = raw16 - up
    elif ftype == 3:
        out = raw16 - (left + up) // 2
    elif ftype == 4:
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, ul))
        out = raw16 - pred
    else:
        raise ValueError(f"bad filter {ftype}")
    return (out % 256).astype(np.uint8)


def _unfilter_row(filt: np.ndarray, prev: np.ndarray, ftype: int,
                  bpp: int) -> np.ndarray:
    """Invert one scanline filter (decode side).  Up is fully vectorized;
    Sub/Average/Paeth honor their in-row recurrences."""
    n = filt.shape[0]
    out = np.empty(n, dtype=np.uint8)
    f64 = filt.astype(np.int64)
    up = prev.astype(np.int64)
    if ftype == 0:
        return filt.copy()
    if ftype == 2:
        return ((f64 + up) % 256).astype(np.uint8)
    if ftype == 1:
        # recon[i] = filt[i] + recon[i-bpp]: per-phase cumulative sum
        for ph in range(bpp):
            out[ph::bpp] = (np.cumsum(f64[ph::bpp]) % 256).astype(np.uint8)
        return out
    ul = np.zeros(n, dtype=np.int64)
    ul[bpp:] = up[:-bpp]
    if ftype == 3:
        for i in range(n):
            a = out[i - bpp] if i >= bpp else 0
            out[i] = (f64[i] + (int(a) + int(up[i])) // 2) % 256
        return out
    if ftype == 4:
        for i in range(n):
            a = int(out[i - bpp]) if i >= bpp else 0
            b, c = int(up[i]), int(ul[i])
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[i] = (f64[i] + pred) % 256
        return out
    raise ValueError(f"bad filter {ftype}")


def encode_png_gray(img: np.ndarray, depth: int = 8) -> bytes:
    """Grayscale PNG bytes with the pinned ``row % 5`` filter schedule.
    ``depth`` 8 → uint8 samples, 16 → big-endian uint16 samples."""
    if depth == 8:
        rows = np.ascontiguousarray(img, dtype=np.uint8)
        raw = rows[:, :, None]
    elif depth == 16:
        a = np.ascontiguousarray(img, dtype=">u2")
        raw = a.view(np.uint8).reshape(a.shape[0], -1)[:, :, None]
    else:
        raise ValueError("depth must be 8 or 16")
    h, w = img.shape
    bpp = depth // 8
    body = bytearray()
    prev = np.zeros(w * bpp, dtype=np.uint8)
    for y in range(h):
        line = raw[y].reshape(-1)
        ftype = y % 5
        body.append(ftype)
        body += _filter_row(line, prev, ftype, bpp).tobytes()
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, depth, 0, 0, 0, 0)
    idat = zlib.compress(bytes(body), 9)
    return (PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))


def decode_png_gray(data: bytes) -> np.ndarray:
    """Full-filter grayscale decode (8/16-bit); verifies every chunk CRC."""
    import binascii

    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, w, h, depth = 8, None, None, None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        typ = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])
        if binascii.crc32(typ + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {typ!r}")
        if typ == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            if ctype != 0 or depth not in (8, 16):
                raise ValueError("only 8/16-bit grayscale supported")
        elif typ == b"IDAT":
            idat += body
        elif typ == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    bpp = depth // 8
    stride = w * bpp + 1
    prev = np.zeros(w * bpp, dtype=np.uint8)
    lines = np.empty((h, w * bpp), dtype=np.uint8)
    for y in range(h):
        row = raw[y * stride:(y + 1) * stride]
        prev = _unfilter_row(
            np.frombuffer(row[1:], dtype=np.uint8), prev, row[0], bpp)
        lines[y] = prev
    if depth == 8:
        return lines
    return lines.reshape(h, w, 2).copy().view(">u2").reshape(h, w) \
        .astype(np.uint16)


def world_file_text(xres: float, yres: float, ulx: float,
                    uly: float) -> str:
    """ESRI world file: res / rotations / -yres / CENTER of the UL pixel
    (GDALReadWorldFile applies the half-pixel shift on read)."""
    cx, cy = ulx + xres / 2.0, uly - yres / 2.0
    return "\n".join(repr(v) for v in
                     (xres, 0.0, 0.0, -yres, cx, cy)) + "\n"


def parse_world_file(text: str) -> tuple[float, float, float, float]:
    """→ (xres, yres, ulx, uly) with the half-pixel shift undone."""
    vals = [float(v) for v in text.split()]
    xres, yres = vals[0], -vals[3]
    ulx, uly = vals[4] - xres / 2.0, vals[5] + yres / 2.0
    return xres, yres, ulx, uly


# Dyadic degrees-per-pixel keeps world-file origin math float-exact
# through the decimal text container (same trick as the GeoTIFF gates).
RES = 1.0 / 1024.0


def write_cell_pngs(
    cells: DataFrame, directory: str, width: int, height: int,
    block_rows: int, depth: int = 8,
) -> int:
    """Distributed PNG sink: one grayscale PNG + .wld per ``block_rows``
    row-block.  ``cells`` is (gx, gy, val) with val already in range for
    ``depth``."""
    bl = RG.Blocks(height, block_rows)

    def encode(blk, pdf):
        y0 = blk * block_rows
        arr = RG.scatter(pdf, (block_rows, width), 0,
                         np.uint16 if depth == 16 else np.uint8,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy())
        return {f"block-{blk:05d}.png": encode_png_gray(arr, depth=depth),
                f"block-{blk:05d}.wld": world_file_text(
                    RES, RES, 0.0, -y0 * RES).encode()}

    return DIO.write_files(cells, directory, bl.key(), encode,
                           {"gy": height, "gx": width})


def read_pngs(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed PNG scan: one decode per file; GLOBAL (gx, gy)
    recovered from each file's world-file geotransform."""

    def decode(path, buf):
        with open(os.path.splitext(path)[0] + ".wld") as fh:
            xres, yres, ulx, uly = parse_world_file(fh.read())
        img = decode_png_gray(buf)
        gy, gx = DIO.grid_index(img.shape, y0=int(round(-uly / yres)),
                                x0=int(round(ulx / xres)))
        return pd.DataFrame({"gx": gx, "gy": gy,
                             "val": img.ravel().astype(np.int64)})

    return DIO.read_files(spark, f"{directory}/*.png", decode,
                          "gx long, gy long, val long")
