"""Idrisi RST raster driver — from-scratch codec of the PUBLIC
TerrSet/Idrisi raster format (reference
``frmts/idrisi/IdrisiDataset.cpp``).

Format — a raw ``.rst`` file next to a ``.rdc`` "documentation" file
whose keys are FIXED-WIDTH 12-character fields followed by ``: value``
(IdrisiDataset.cpp:55-82 lists the exact padded key strings, e.g.
``"data type   "``, ``"flag value  "``):

    file format : IDRISI Raster A.1
    data type   : byte | integer | real
    file type   : binary
    columns     : <w>
    rows        : <h>
    min. value  : <v>      max. value  : <v>
    flag value  : <nodata or 'none'>   flag def'n  : missing data

``byte`` = uint8, ``integer`` = int16 little-endian, ``real`` = float32
little-endian; rows run top→bottom; always a single band (the rgb24
packed type is out of scope).  The novelty vs the engine's other
header-labelled raws: the fixed-12-char key syntax and the
``flag value`` nodata contract, which read honors by dropping flagged
cells.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``);
single band, so a slab is a row-block."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

_DTYPES = {"byte": "u1", "integer": "<i2", "real": "<f4"}
_OF_NP = {"u1": "byte", "i2": "integer", "f4": "real"}


def rdc_bytes(w: int, h: int, data_type: str, vmin: float, vmax: float,
              flag: float | None) -> bytes:
    def row(key: str, val) -> str:
        # the format's 12-character padded key field
        return f"{key:<12s}: {val}\n"

    flag_s = "none" if flag is None else repr(flag)
    return (
        row("file format", "IDRISI Raster A.1")
        + row("file title", "")
        + row("data type", data_type)
        + row("file type", "binary")
        + row("columns", w)
        + row("rows", h)
        + row("ref. system", "plane")
        + row("ref. units", "m")
        + row("unit dist.", "1.0000000")
        + row("min. X", "0.0000000") + row("max. X", float(w))
        + row("min. Y", "0.0000000") + row("max. Y", float(h))
        + row("pos'n error", "unknown")
        + row("resolution", "1.0000000")
        + row("min. value", vmin) + row("max. value", vmax)
        + row("display min", vmin) + row("display max", vmax)
        + row("value units", "unspecified")
        + row("value error", "unknown")
        + row("flag value", flag_s)
        + row("flag def'n", "none" if flag is None else "missing data")
        + row("legend cats", 0)
    ).encode("ascii")


def parse_rdc(path: str) -> dict:
    kv: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            if ":" not in line:
                continue
            k, _, v = line.partition(":")
            kv[k.strip().lower()] = v.strip()
    dt = kv.get("data type", "byte").lower()
    if dt not in _DTYPES:
        raise ValueError(f"idrisi: unsupported data type {dt!r} "
                         "(rgb24 out of scope)")
    if kv.get("file type", "binary").lower() != "binary":
        raise ValueError("idrisi: only binary file type supported")
    flag_s = kv.get("flag value", "none").lower()
    return {
        "w": int(kv["columns"]), "h": int(kv["rows"]),
        "dtype": _DTYPES[dt],
        "flag": None if flag_s in ("none", "") else float(flag_s),
    }


def _raw_path(rdc_path: str) -> str:
    base = rdc_path[:-4] if rdc_path.lower().endswith(".rdc") else rdc_path
    return base + ".rst"


def read_idrisi(spark: SparkSession, rdc_path: str,
                block_rows: int = 64) -> DataFrame:
    """Distributed scan → (gy, gx, val double); cells equal to the
    documentation file's flag value are DROPPED (the format's nodata)."""
    hdr = parse_rdc(rdc_path)
    w, h = hdr["w"], hdr["h"]
    np_dt = np.dtype(hdr["dtype"])
    flag = hdr["flag"]
    bl = RG.Blocks(h, block_rows)

    def decode(read, slab):
        _, y0, rows = bl.span(slab)
        arr = read(y0 * w * np_dt.itemsize, (rows, w), np_dt)
        yield 0, y0, 0, (arr if flag is None else
                         np.ma.masked_equal(arr.astype(np.float64), flag))

    return RG.read_slabs(spark, _raw_path(rdc_path), bl.count, decode)


def write_idrisi(
    cells: DataFrame, rdc_path: str, w: int, h: int,
    *, dtype: str = "i2", flag: float | None = None,
    block_rows: int = 64,
) -> None:
    """Distributed sink over (gy, gx, val): .rdc + pre-extended .rst
    driver-side (holes carry the flag value when one is declared), one
    row-block pwrite per slab.  min/max in the .rdc come from one
    bounded aggregate over the cells (0 and 0 when there are none)."""
    if dtype not in _OF_NP:
        raise ValueError(f"idrisi write: unsupported dtype {dtype!r}")
    np_dt = np.dtype(_DTYPES[_OF_NP[dtype]])
    fill = 0.0 if flag is None else flag
    lo, hi = RG.value_range(cells)
    raw = _raw_path(rdc_path)
    os.makedirs(os.path.dirname(rdc_path) or ".", exist_ok=True)
    with open(rdc_path, "wb") as fh:
        fh.write(rdc_bytes(w, h, _OF_NP[dtype], lo, hi, flag))
    RG.preallocate(raw, b"", RG.fill_row(fill, np_dt, w), h)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w), fill, np_dt,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy())
        return y0 * w * np_dt.itemsize, buf

    RG.write_slabs(cells, raw, bl.key(), (h, w), encode)
