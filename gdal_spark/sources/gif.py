"""GIF driver — GIF87a, from the PUBLIC GIF specification (reference
``frmts/gif/gifdataset.cpp`` wraps giflib; this is a from-scratch codec).

Format: ``GIF87a`` header, logical screen descriptor, global color table
(power-of-two RGB entries), one image descriptor (0x2C), then LZW-coded
pixel data and the 0x3B trailer.  GIF LZW is **LSB-first variable-width**
with NO early code-size change (TIFF LZW, sources/geotiff.py, is the
MSB-first early-change variant): codes start at ``min_code_size + 1``
bits, the width grows when the decoder's next free slot reaches
``1 << code_size`` (the encoder mirrors this one entry later — the
classic off-by-one between the two ends), the dictionary caps at 4096
and a CLEAR code resets it.  Coded bytes are wrapped in ≤255-byte
sub-blocks.

Spark mapping: the document kernel (``sources/_docio.py``) — one .gif
per row-block on write, one decode per file on read.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO
from gdal_spark.sources import _rawgrid as RG

_MAX_CODE_SIZE = 12


def _lzw_encode(data: bytes, min_code_size: int) -> bytes:
    """GIF LZW: variable-width codes, LSB-first bit packing."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    code_size = min_code_size + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, code_size)
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w], code_size)
        table[wk] = next_code
        next_code += 1
        # decoder adds its matching entry one code LATER, so grow the
        # width one entry after the decoder's 1<<code_size boundary
        if next_code == (1 << code_size) + 1 and code_size < _MAX_CODE_SIZE:
            code_size += 1
        if next_code > (1 << _MAX_CODE_SIZE) - 1:
            emit(clear, code_size)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        w = bytes([byte])
    if w:
        emit(table[w], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(coded: bytes, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    table: list[bytes] = []
    next_code = eoi + 1
    code_size = min_code_size + 1

    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, next_code, code_size, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        next_code = eoi + 1
        code_size = min_code_size + 1
        prev = None

    reset()
    while True:
        while nbits < code_size:
            if pos >= len(coded):
                return bytes(out)  # missing EOI — tolerate, like giflib
            acc |= coded[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            reset()
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError("gif: first code after clear not literal")
            out += table[code]
            prev = table[code]
            continue
        if code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"gif: code {code} beyond table {next_code}")
        out += entry
        table.append(prev + entry[:1])
        next_code += 1
        if next_code == (1 << code_size) and code_size < _MAX_CODE_SIZE:
            code_size += 1
        prev = entry


def gif_bytes(idx: np.ndarray, palette: np.ndarray) -> bytes:
    """Serialize one image: (h, w) uint8 indices + (n, 3) RGB palette."""
    if idx.ndim != 2:
        raise ValueError(f"gif: shape {idx.shape} is not a 2-D index grid")
    if palette.ndim != 2 or palette.shape[1] != 3 or len(palette) > 256:
        raise ValueError("gif: palette must be (n<=256, 3)")
    if int(idx.max(initial=0)) >= len(palette):
        raise ValueError("gif: index out of palette range")
    bits = max(1, int(len(palette) - 1).bit_length())
    ncol = 1 << bits
    pal = np.zeros((ncol, 3), dtype=np.uint8)
    pal[:len(palette)] = palette
    h, w = idx.shape
    head = b"GIF87a" + struct.pack(
        "<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    min_code = max(2, bits)
    coded = _lzw_encode(idx.astype(np.uint8).tobytes(order="C"), min_code)
    blocks = bytearray([min_code])
    for i in range(0, len(coded), 255):
        chunk = coded[i:i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return head + pal.tobytes() + desc + bytes(blocks) + b"\x3b"


def parse_gif(buf: bytes) -> tuple[dict, np.ndarray]:
    """→ (header dict with ``palette``, (h, w) uint8 index array)."""
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad magic")
    w, h, packed, _bg, _aspect = struct.unpack_from("<HHBBB", buf, 6)
    pos = 13
    palette = None
    if packed & 0x80:
        ncol = 2 << (packed & 0x07)
        palette = np.frombuffer(buf, np.uint8, count=ncol * 3,
                                offset=pos).reshape(ncol, 3).copy()
        pos += ncol * 3
    # skip 89a extension blocks (0x21 label, sub-blocks) to the image
    while pos < len(buf) and buf[pos] == 0x21:
        pos += 2
        while buf[pos] != 0:
            pos += 1 + buf[pos]
        pos += 1
    if pos >= len(buf) or buf[pos] != 0x2C:
        raise ValueError("gif: no image descriptor")
    _l, _t, iw, ih, ipacked = struct.unpack_from("<HHHHB", buf, pos + 1)
    pos += 10
    if ipacked & 0x80:  # local color table overrides
        ncol = 2 << (ipacked & 0x07)
        palette = np.frombuffer(buf, np.uint8, count=ncol * 3,
                                offset=pos).reshape(ncol, 3).copy()
        pos += ncol * 3
    if ipacked & 0x40:
        raise ValueError("gif: interlaced images not supported")
    min_code = buf[pos]
    pos += 1
    coded = bytearray()
    while buf[pos] != 0:
        n = buf[pos]
        coded += buf[pos + 1:pos + 1 + n]
        pos += 1 + n
    data = _lzw_decode(bytes(coded), min_code)
    if len(data) < iw * ih:
        raise ValueError(f"gif: short pixel stream {len(data)} < {iw * ih}")
    arr = np.frombuffer(bytes(data), np.uint8, count=iw * ih).reshape(ih, iw)
    return {"width": iw, "height": ih, "palette": palette}, arr.copy()


def write_indexed_gifs(cells: DataFrame, directory: str, width: int,
                       height: int, block_rows: int,
                       palette: np.ndarray) -> int:
    """Distributed paletted sink over (gx, gy, idx): one .gif per
    row-block."""
    pal = np.asarray(palette, dtype=np.uint8)
    bl = RG.Blocks(height, block_rows)

    def encode(blk, pdf):
        _, y0, h = bl.span(blk)
        arr = RG.scatter(pdf, (h, width), 0, np.uint8,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy(),
                         vals=pdf["idx"].to_numpy(np.int64))
        return {f"block-{blk:05d}.gif": gif_bytes(arr, pal)}

    return DIO.write_files(cells, directory, bl.key(), encode,
                           {"gy": height, "gx": width})


def read_indexed_gifs(spark: SparkSession, directory: str,
                      block_rows: int) -> DataFrame:
    """Distributed scan → (gx, gy, idx, r, g, b): indices expanded through
    each file's color table."""

    def decode(path, buf):
        hdr, arr = parse_gif(buf)
        gy, gx = DIO.grid_index(arr.shape,
                                y0=DIO.block_of(path) * block_rows)
        rgb = hdr["palette"][arr].reshape(-1, 3).astype(np.int64)
        return pd.DataFrame({"gx": gx, "gy": gy,
                             "idx": arr.ravel().astype(np.int64),
                             "r": rgb[:, 0], "g": rgb[:, 1], "b": rgb[:, 2]})

    return DIO.read_files(
        spark, f"{directory}/*.gif", decode,
        "gx long, gy long, idx long, r long, g long, b long")
