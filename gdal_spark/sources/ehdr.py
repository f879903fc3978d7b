"""EHdr (ESRI .hdr-labelled BIL) raster driver — from-scratch codec of
the PUBLIC ESRI BIL/BIP/BSQ header-labelled raw raster format
(reference ``frmts/raw/ehdrdataset.cpp``).

Format: a keyword-per-line text ``.hdr`` sidecar —

    NROWS <h>        NCOLS <w>       NBANDS <b>
    NBITS 8|16|32    PIXELTYPE UNSIGNEDINT|SIGNEDINT|FLOAT
    BYTEORDER I      LAYOUT BIL
    ULXMAP <x of CENTER of upper-left pixel>   ULYMAP <y>
    XDIM <dx>  YDIM <dy>  NODATA <v>

— next to a raw ``.bil`` file.  This driver implements the format's
namesake BIL interleave (band-interleaved-by-LINE: for each row y the
file holds band 0's row, then band 1's row, ... — the addressing that
distinguishes it from the ENVI driver's BSQ), byte order I
(little-endian), and the 8/16/32-bit pixel types.

Note the georeferencing quirk the reference preserves
(ehdrdataset.cpp ULXMAP handling): ULXMAP/ULYMAP name the CENTER of
the upper-left pixel, not its outer corner — the geotransform origin
is ``ULXMAP - XDIM/2``.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``):
a read slab is one (band, row-block), picked out of the interleaved
block by a strided view; a write slab is a row-block of all bands, the
contiguous unit under BIL.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

# (NBITS, PIXELTYPE) <-> numpy little-endian dtype
_DTYPES = {
    (8, "UNSIGNEDINT"): "u1",
    (16, "SIGNEDINT"): "<i2",
    (16, "UNSIGNEDINT"): "<u2",
    (32, "SIGNEDINT"): "<i4",
    (32, "FLOAT"): "<f4",
}
_OF_NP = {"u1": (8, "UNSIGNEDINT"), "i2": (16, "SIGNEDINT"),
          "u2": (16, "UNSIGNEDINT"), "i4": (32, "SIGNEDINT"),
          "f4": (32, "FLOAT")}


def hdr_bytes(w: int, h: int, bands: int, nbits: int, pixeltype: str,
              ulx_center: float, uly_center: float,
              dx: float, dy: float, nodata: float) -> bytes:
    return (
        f"NROWS {h}\nNCOLS {w}\nNBANDS {bands}\n"
        f"NBITS {nbits}\nPIXELTYPE {pixeltype}\n"
        "BYTEORDER I\nLAYOUT BIL\nSKIPBYTES 0\n"
        f"ULXMAP {ulx_center!r}\nULYMAP {uly_center!r}\n"
        f"XDIM {dx!r}\nYDIM {dy!r}\nNODATA {nodata!r}\n"
    ).encode("ascii")


def parse_hdr(path: str) -> dict:
    kv: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) >= 2:
                kv[parts[0].upper()] = parts[1]
    if kv.get("LAYOUT", "BIL").upper() != "BIL":
        raise ValueError(f"ehdr: only BIL layout supported, "
                         f"got {kv.get('LAYOUT')!r}")
    if kv.get("BYTEORDER", "I").upper() not in ("I", "LSBFIRST"):
        raise ValueError("ehdr: only little-endian (BYTEORDER I) supported")
    nbits = int(kv.get("NBITS", "8"))
    pixeltype = kv.get("PIXELTYPE",
                       "FLOAT" if nbits == 32 else "UNSIGNEDINT").upper()
    if (nbits, pixeltype) not in _DTYPES:
        raise ValueError(f"ehdr: unsupported NBITS={nbits} "
                         f"PIXELTYPE={pixeltype}")
    return {
        "w": int(kv["NCOLS"]), "h": int(kv["NROWS"]),
        "bands": int(kv.get("NBANDS", "1")),
        "dtype": _DTYPES[(nbits, pixeltype)],
        "skip": int(kv.get("SKIPBYTES", "0")),
        "ulx_center": float(kv.get("ULXMAP", "0")),
        "uly_center": float(kv.get("ULYMAP", "0")),
        "dx": float(kv.get("XDIM", "1")),
        "dy": float(kv.get("YDIM", "1")),
        "nodata": float(kv.get("NODATA", "nan")),
    }


def _raw_path(hdr_path: str) -> str:
    base = hdr_path[:-4] if hdr_path.endswith(".hdr") else hdr_path
    return base + ".bil"


def read_ehdr(
    spark: SparkSession, hdr_path: str, block_rows: int = 64,
) -> DataFrame:
    """Distributed BIL scan → (band, gy, gx, val double): one (band,
    row-block) slab preads the whole interleaved block and a strided
    view picks the band's rows (one w-pixel run per row at stride
    bands*w)."""
    hdr = parse_hdr(hdr_path)
    w, h, bands = hdr["w"], hdr["h"], hdr["bands"]
    np_dt = np.dtype(hdr["dtype"])
    bl = RG.Blocks(h, block_rows, bands)

    def decode(read, slab):
        b, y0, rows = bl.span(slab)
        arr = read(hdr["skip"] + y0 * bands * w * np_dt.itemsize,
                   (rows, bands, w), np_dt)
        yield b, y0, 0, arr[:, b, :]

    return RG.read_slabs(spark, _raw_path(hdr_path), bl.count, decode,
                         banded=True)


def write_ehdr(
    cells: DataFrame, hdr_path: str, w: int, h: int, bands: int,
    *, dtype: str = "i2", block_rows: int = 64, fill: float = 0.0,
    ulx_center: float = 10.0, uly_center: float = 50.0,
    cellsize: float = 1.0 / 1024.0, nodata: float = -9999.0,
) -> None:
    """Distributed BIL sink over (band, gy, gx, val): .hdr + pre-extended
    .bil driver-side, then one pwrite per ROW-BLOCK (all bands of its
    rows — the interleave makes a row-block the contiguous unit)."""
    if dtype not in _OF_NP:
        raise ValueError(f"ehdr write: unsupported dtype {dtype!r}")
    nbits, pixeltype = _OF_NP[dtype]
    np_dt = np.dtype(_DTYPES[(nbits, pixeltype)])
    raw = _raw_path(hdr_path)
    os.makedirs(os.path.dirname(hdr_path) or ".", exist_ok=True)
    with open(hdr_path, "wb") as fh:
        fh.write(hdr_bytes(w, h, bands, nbits, pixeltype,
                           ulx_center, uly_center,
                           cellsize, cellsize, nodata))
    RG.preallocate(raw, b"", RG.fill_row(fill, np_dt, w), h * bands)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, bands, w), fill, np_dt,
                         pdf["gy"].to_numpy() - y0, pdf["band"].to_numpy(),
                         pdf["gx"].to_numpy())
        return y0 * bands * w * np_dt.itemsize, buf

    RG.write_slabs(cells, raw, bl.key(), (bands, h, w), encode)
