"""RRASTER driver — from-scratch codec of the PUBLIC R ``raster``
package native grid format (reference ``frmts/raw/rrasterdataset.cpp``).

Format: a key=value text ``.grd`` sidecar —

    [general]
    creator=...
    [georeference]
    nrows=<h>   ncols=<w>
    xmin=<..> ymin=<..> xmax=<..> ymax=<..>   (CELL EDGES, unlike EHdr)
    [data]
    datatype=INT1U|INT2S|INT4S|FLT4S|FLT8S    (R's size/sign type codes)
    byteorder=little
    nbands=<b>
    bandorder=BIP|BIL|BSQ
    nodatavalue=<v>
    minvalue=<v1:v2:..>  maxvalue=<..>        (per-band colon lists)

— next to a raw ``.gri`` file.  Section headers are decorative (the
reference parser keys on names only, rrasterdataset.cpp:1071-1095).
This driver's write path emits BIP (band-interleaved-by-PIXEL — all
bands of one pixel adjacent), completing the interleave triple next to
the ENVI driver's BSQ and the EHdr driver's BIL; the read path handles
all three bandorders.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``):
a read slab is one (band, row-block), viewed per interleave; a write
slab is a row-block of all bands.  Per-band min/max for the header
are a bounded Spark aggregate, not a driver pass.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _rawgrid as RG

# R raster datatype code -> numpy little-endian dtype
_DTYPES = {"INT1U": "u1", "INT2S": "<i2", "INT2U": "<u2",
           "INT4S": "<i4", "FLT4S": "<f4", "FLT8S": "<f8"}
_OF_NP = {"u1": "INT1U", "i2": "INT2S", "u2": "INT2U",
          "i4": "INT4S", "f4": "FLT4S", "f8": "FLT8S"}


def grd_bytes(w: int, h: int, bands: int, datatype: str, bandorder: str,
              xmin: float, ymin: float, xmax: float, ymax: float,
              nodata: float, minv: list[float], maxv: list[float]) -> bytes:
    return (
        "[general]\ncreator=gdal_spark\n"
        "[georeference]\n"
        f"nrows={h}\nncols={w}\n"
        f"xmin={xmin!r}\nymin={ymin!r}\nxmax={xmax!r}\nymax={ymax!r}\n"
        "[data]\n"
        f"datatype={datatype}\nbyteorder=little\n"
        f"nbands={bands}\nbandorder={bandorder}\n"
        f"nodatavalue={nodata!r}\n"
        f"minvalue={':'.join(repr(v) for v in minv)}\n"
        f"maxvalue={':'.join(repr(v) for v in maxv)}\n"
    ).encode("ascii")


def parse_grd(path: str) -> dict:
    kv: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("["):
                continue  # section headers are decorative
            if "=" in line:
                k, v = line.split("=", 1)
                kv[k.strip().lower()] = v.strip()
    dt = kv.get("datatype", "")
    if dt not in _DTYPES:
        raise ValueError(f"rraster: unhandled datatype={dt!r}")
    if kv.get("byteorder", "little").lower() != "little":
        raise ValueError("rraster: only byteorder=little supported")
    bandorder = kv.get("bandorder", "BIL").upper()
    if bandorder not in ("BIP", "BIL", "BSQ"):
        raise ValueError(f"rraster: unknown bandorder={bandorder!r}")
    out = {
        "w": int(kv["ncols"]), "h": int(kv["nrows"]),
        "bands": int(kv.get("nbands", "1")),
        "dtype": _DTYPES[dt], "bandorder": bandorder,
        "xmin": float(kv["xmin"]), "ymin": float(kv["ymin"]),
        "xmax": float(kv["xmax"]), "ymax": float(kv["ymax"]),
        "nodata": float(kv["nodatavalue"])
        if "nodatavalue" in kv else None,
    }
    for k in ("minvalue", "maxvalue"):
        if k in kv:
            out[k] = [float(x) for x in kv[k].split(":")]
    return out


def _raw_path(grd_path: str) -> str:
    base = grd_path[:-4] if grd_path.endswith(".grd") else grd_path
    return base + ".gri"


def read_rraster(
    spark: SparkSession, grd_path: str, block_rows: int = 64,
) -> DataFrame:
    """Distributed scan → (band, gy, gx, val double): one (band,
    row-block) slab per pread; the block is reshaped per the header's
    bandorder (BIP / BIL / BSQ)."""
    hdr = parse_grd(grd_path)
    w, h, bands = hdr["w"], hdr["h"], hdr["bands"]
    order = hdr["bandorder"]
    np_dt = np.dtype(hdr["dtype"])
    item = np_dt.itemsize
    bl = RG.Blocks(h, block_rows, bands)

    def decode(read, slab):
        b, y0, rows = bl.span(slab)
        if order == "BSQ":
            arr = read((b * h + y0) * w * item, (rows, w), np_dt)
        elif order == "BIP":
            arr = read(y0 * bands * w * item, (rows, w, bands),
                       np_dt)[:, :, b]
        else:  # BIL
            arr = read(y0 * bands * w * item, (rows, bands, w),
                       np_dt)[:, b, :]
        yield b, y0, 0, arr

    return RG.read_slabs(spark, _raw_path(grd_path), bl.count, decode,
                         banded=True)


def write_rraster(
    cells: DataFrame, grd_path: str, w: int, h: int, bands: int,
    *, dtype: str = "f4", block_rows: int = 64, fill: float = 0.0,
    xmin: float = 10.0, ymax: float = 50.0,
    cellsize: float = 1.0 / 1024.0, nodata: float = -9999.0,
) -> None:
    """Distributed BIP sink over (band, gy, gx, val): .grd + pre-extended
    .gri driver-side, one pwrite per row-block of all bands of its rows
    (BIP makes the row-block the contiguous unit).  Header min/max come
    from a bounded per-band Spark aggregate."""
    if dtype not in _OF_NP:
        raise ValueError(f"rraster write: unsupported dtype {dtype!r}")
    np_dt = np.dtype(_DTYPES[_OF_NP[dtype]])
    raw = _raw_path(grd_path)
    os.makedirs(os.path.dirname(grd_path) or ".", exist_ok=True)

    stats = {
        int(r["band"]): (float(r["mn"]), float(r["mx"]))
        for r in cells.groupBy("band").agg(
            F.min("val").alias("mn"), F.max("val").alias("mx")).collect()
    }  # bounded: one row per band
    minv = [stats.get(b, (nodata, nodata))[0] for b in range(bands)]
    maxv = [stats.get(b, (nodata, nodata))[1] for b in range(bands)]
    with open(grd_path, "wb") as fh:
        fh.write(grd_bytes(
            w, h, bands, _OF_NP[dtype], "BIP",
            xmin, ymax - h * cellsize, xmin + w * cellsize, ymax,
            nodata, minv, maxv))
    RG.preallocate(raw, b"", RG.fill_row(fill, np_dt, w * bands), h)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w, bands), fill, np_dt,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy(),
                         pdf["band"].to_numpy())
        return y0 * w * bands * np_dt.itemsize, buf

    RG.write_slabs(cells, raw, bl.key(), (bands, h, w), encode)
