"""HF2 heightfield driver — from-scratch codec of the PUBLIC HF2/HFZ
format (bundysoft L3DT spec; reference ``frmts/hf2/hf2dataset.cpp``).

Layout (all little-endian):

* 28-byte header: magic ``HF2\\0`` + u16 version, i32 width (off 6),
  i32 height (off 10), u16 tile size (off 14, ≥8), f32 vertical
  precision (off 16), f32 horizontal scale (off 20), u32 extended
  header length (off 24), then the extended header
  (hf2dataset.cpp:443-461).
* Tiles in row-major order with tile row 0 at the BOTTOM
  (hf2dataset.cpp:42 "tile 0 is a the bottom left").  Each tile:
  f32 scale + f32 offset, then per tile ROW: u8 word size (1/2/4),
  i32 first quantized value, then (tilewidth−1) signed deltas of that
  word size; value = raw·scale + offset with raw accumulating deltas
  (hf2dataset.cpp:164-239).  Tiles are variable-length, so readers
  build a block-offset map by walking the structural bytes
  (LoadBlockMap in the reference).

Spark mapping — variable-length tiles need an offset map: the WRITE
encodes every tile in one distributed pass (one task per tile,
localCheckpoint pins the encoded bytes), collects only the LENGTHS
(tile-count-bounded metadata), prefix-sums offsets driver-side and
pwrites each tile's bytes from a second map-only pass.  The READ walks
only the structural bytes driver-side (8 bytes per tile + 5 per row —
the reference's LoadBlockMap pattern), broadcasts the offset map, and
decodes one tile per task."""

from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _rawgrid as RG

_HDR = 28


def header_bytes(w: int, h: int, tile: int, vert_pres: float,
                 horiz_scale: float = 1.0) -> bytes:
    return (b"HF2\x00" + struct.pack("<H", 0)
            + struct.pack("<2i", w, h)
            + struct.pack("<H", tile)
            + struct.pack("<2f", vert_pres, horiz_scale)
            + struct.pack("<I", 0))


def parse_header(path: str) -> dict:
    with open(path, "rb") as fh:
        buf = fh.read(_HDR)
    if buf[0:4] != b"HF2\x00":
        raise ValueError("hf2: missing HF2 magic")
    w, h = struct.unpack_from("<2i", buf, 6)
    tile = struct.unpack_from("<H", buf, 14)[0]
    if tile < 8:
        raise ValueError(f"hf2: tile size {tile} < 8")
    vert, horiz = struct.unpack_from("<2f", buf, 16)
    ext = struct.unpack_from("<I", buf, 24)[0]
    return {"w": w, "h": h, "tile": tile, "vert": vert, "horiz": horiz,
            "data0": _HDR + ext}


_WS_DT = {1: "<i1", 2: "<i2", 4: "<i4"}


def _encode_tile(vals: np.ndarray, scale: float) -> bytes:
    """vals: (th, tw) float64, tile-row 0 = SOUTH row of the tile.
    Per-row minimal word size, quantized to ``scale`` with the tile
    offset at the tile minimum."""
    off = float(vals.min())
    raw = np.rint((vals - off) / scale).astype(np.int64)
    out = [struct.pack("<2f", scale, off)]
    for r in range(vals.shape[0]):
        row = raw[r]
        first = int(row[0])
        deltas = np.diff(row)
        if deltas.size and (deltas.max(initial=0) > 32767
                            or deltas.min(initial=0) < -32768):
            ws = 4
        elif deltas.size and (deltas.max(initial=0) > 127
                              or deltas.min(initial=0) < -128):
            ws = 2
        else:
            ws = 1
        out.append(struct.pack("<Bi", ws, first))
        out.append(deltas.astype(_WS_DT[ws]).tobytes())
    return b"".join(out)


def _walk_block_map(path: str, hdr: dict) -> list[int]:
    """Driver-side structural walk (the reference's LoadBlockMap):
    reads ONLY the 8-byte tile heads and 5-byte row heads, skipping
    payloads — offsets for nx*ny tiles, tile row 0 at the bottom."""
    w, h, tile = hdr["w"], hdr["h"], hdr["tile"]
    nx = (w + tile - 1) // tile
    ny = (h + tile - 1) // tile
    offsets = []
    pos = hdr["data0"]
    with open(path, "rb") as fh:
        for j in range(ny):
            th = min(tile, h - j * tile)
            for i in range(nx):
                tw = min(tile, w - i * tile)
                offsets.append(pos)
                pos += 8
                for _ in range(th):
                    fh.seek(pos)
                    ws = fh.read(1)[0]
                    if ws not in _WS_DT:
                        raise ValueError(f"hf2: unexpected word size {ws}")
                    pos += 5 + ws * (tw - 1)
    return offsets


def read_hf2(spark: SparkSession, path: str) -> DataFrame:
    """Distributed scan → (gy, gx, val double) with gy top-down: one
    task per tile, decoding scale/offset + per-row delta runs; the
    bottom-up tile grid is flipped in the task's gy math."""
    hdr = parse_header(path)
    w, h, tile = hdr["w"], hdr["h"], hdr["tile"]
    nx = (w + tile - 1) // tile
    ny = (h + tile - 1) // tile
    offsets = _walk_block_map(path, hdr)

    tiles = spark.range(nx * ny).toDF("tid").repartition(
        min(nx * ny, 32), "tid")

    def read_tile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fd = os.open(path, os.O_RDONLY)
        try:
            for pdf in batches:
                for t in pdf["tid"].to_numpy():
                    tid = int(t)
                    j, i = divmod(tid, nx)
                    tw = min(tile, w - i * tile)
                    th = min(tile, h - j * tile)
                    # generous read: worst case 4-byte deltas every row
                    blob = os.pread(fd, 8 + th * (5 + 4 * (tw - 1)),
                                    offsets[tid])
                    scale, off = struct.unpack_from("<2f", blob, 0)
                    pos = 8
                    vals = np.empty((th, tw), dtype=np.float64)
                    for r in range(th):
                        ws = blob[pos]
                        first = struct.unpack_from("<i", blob, pos + 1)[0]
                        pos += 5
                        deltas = np.frombuffer(
                            blob, dtype=_WS_DT[ws], count=tw - 1,
                            offset=pos).astype(np.int64)
                        pos += ws * (tw - 1)
                        raw = np.concatenate(
                            ([first], first + np.cumsum(deltas)))
                        vals[r] = raw * float(scale) + float(off)
                    # tile row r is the SOUTH-to-north r-th row of the
                    # tile; tile grid row j counts from the bottom
                    y_base = h - (j * tile)  # south edge (exclusive)
                    yy = y_base - 1 - np.arange(th)
                    gy = np.repeat(yy, tw)
                    gx = np.tile(np.arange(i * tile, i * tile + tw), th)
                    yield pd.DataFrame({
                        "gy": gy.astype(np.int64),
                        "gx": gx.astype(np.int64),
                        "val": vals.ravel(),
                    })
        finally:
            os.close(fd)

    return tiles.mapInPandas(read_tile, "gy long, gx long, val double")


def write_hf2(
    cells: DataFrame, path: str, w: int, h: int,
    *, tile: int = 64, vert_pres: float = 0.01,
) -> None:
    """Distributed sink over (gy, gx, val): tiles encoded in one
    distributed pass; only their LENGTHS reach the driver (tile-count
    metadata) to prefix-sum the offset map; a second map-only pass
    pwrites each tile at its offset."""
    if tile < 8:
        raise ValueError("hf2: tile size must be >= 8")
    nx = (w + tile - 1) // tile
    ny = (h + tile - 1) // tile
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    scale = vert_pres

    def encode(key, pdf):
        tid = int(key[0])
        bad = RG.check_cells(pdf, {"gy": h, "gx": w})
        if bad:
            return pd.DataFrame({"tid": [tid], "blob": [None], "bad": [bad]})
        j, i = divmod(tid, nx)
        tw = min(tile, w - i * tile)
        th = min(tile, h - j * tile)
        vals = np.zeros((th, tw), dtype=np.float64)
        y_base = h - (j * tile)
        r = (y_base - 1 - pdf["gy"].to_numpy(np.int64))
        c = pdf["gx"].to_numpy(np.int64) - i * tile
        vals[r, c] = pdf["val"].to_numpy(np.float64)
        blob = _encode_tile(vals, scale)
        return pd.DataFrame({"tid": [tid], "blob": [blob], "bad": [None]})

    staged = cells.withColumn(
        "_tid",
        (F.floor((F.lit(h) - 1 - F.col("gy")) / F.lit(tile)) * nx
         + F.floor(F.col("gx") / F.lit(tile))).cast("long"),
    ).groupBy("_tid").applyInPandas(
        encode, "tid long, blob binary, bad string") \
     .localCheckpoint(eager=True)

    rows = staged.select("tid", "bad", F.length("blob").alias("ln")) \
        .collect()  # tile-count rows
    if any(r["bad"] for r in rows):
        staged.unpersist()
        RG.raise_bad_cells(path, [r["bad"] for r in rows])
    lengths = {r["tid"]: r["ln"] for r in rows}
    pos = _HDR
    offsets: dict[int, int] = {}
    for tid in range(nx * ny):
        offsets[tid] = pos
        pos += lengths.get(tid, 0)
    with open(path, "wb") as fh:
        fh.write(header_bytes(w, h, tile, vert_pres))
        fh.truncate(pos)
    bc = cells.sparkSession.sparkContext.broadcast(offsets)

    def flush(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fd = os.open(path, os.O_WRONLY)
        try:
            for pdf in batches:
                for tid, blob in zip(pdf["tid"], pdf["blob"]):
                    os.pwrite(fd, bytes(blob), bc.value[int(tid)])
                yield pd.DataFrame({"n": [len(pdf)]})
        finally:
            os.close(fd)

    staged.mapInPandas(flush, "n long").collect()
    staged.unpersist()
