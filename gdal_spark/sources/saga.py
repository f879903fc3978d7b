"""SAGA GIS binary grid driver — from-scratch codec of the PUBLIC SAGA
``.sgrd`` header + ``.sdat`` raw grid format (reference
``frmts/saga/sagadataset.cpp``).

Format: a ``KEY\\t= value`` text ``.sgrd`` header —

    NAME / DESCRIPTION / UNIT
    DATAFILE_OFFSET = 0
    DATAFORMAT      = BYTE_UNSIGNED|SHORTINT|INTEGER|FLOAT|DOUBLE
    BYTEORDER_BIG   = FALSE
    POSITION_XMIN   = <x of CENTER of west column>
    POSITION_YMIN   = <y of CENTER of south row>
    CELLCOUNT_X/Y, CELLSIZE, Z_FACTOR = 1, NODATA_VALUE
    TOPTOBOTTOM     = FALSE

— next to a single-band raw ``.sdat``.  The format's two quirks, both
preserved from the reference (sagadataset.cpp:508-560, 816-828):

* rows are stored BOTTOM-TO-TOP (``TOPTOBOTTOM = FALSE`` is the only
  layout SAGA itself writes, and the only one the reference reads —
  file row 0 is the SOUTH edge);
* ``POSITION_XMIN/YMIN`` name the CENTER of the south-west cell, not
  its outer corner.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``)
over blocks of the bottom-up FILE rows, flipped to north-up in the
slab.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _rawgrid as RG

_DTYPES = {"BYTE_UNSIGNED": "u1", "SHORTINT": "<i2",
           "SHORTINT_UNSIGNED": "<u2", "INTEGER": "<i4",
           "INTEGER_UNSIGNED": "<u4", "FLOAT": "<f4", "DOUBLE": "<f8"}
_OF_NP = {"u1": "BYTE_UNSIGNED", "i2": "SHORTINT", "u2": "SHORTINT_UNSIGNED",
          "i4": "INTEGER", "u4": "INTEGER_UNSIGNED",
          "f4": "FLOAT", "f8": "DOUBLE"}


def sgrd_bytes(w: int, h: int, dataformat: str,
               xmin_center: float, ymin_center: float,
               cellsize: float, nodata: float) -> bytes:
    return (
        "NAME\t= gdal_spark\nDESCRIPTION\t=\nUNIT\t=\n"
        "DATAFILE_OFFSET\t= 0\n"
        f"DATAFORMAT\t= {dataformat}\n"
        "BYTEORDER_BIG\t= FALSE\n"
        f"POSITION_XMIN\t= {xmin_center!r}\n"
        f"POSITION_YMIN\t= {ymin_center!r}\n"
        f"CELLCOUNT_X\t= {w}\nCELLCOUNT_Y\t= {h}\n"
        f"CELLSIZE\t= {cellsize!r}\n"
        "Z_FACTOR\t= 1.000000\n"
        f"NODATA_VALUE\t= {nodata!r}\n"
        "TOPTOBOTTOM\t= FALSE\n"
    ).encode("ascii")


def parse_sgrd(path: str) -> dict:
    kv: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            if "=" not in line:
                continue
            k, v = line.split("=", 1)
            kv[k.strip().upper()] = v.strip()
    if kv.get("TOPTOBOTTOM", "FALSE").upper().startswith("TRUE"):
        # the reference rejects TOPTOBOTTOM grids too (sagadataset.cpp:553)
        raise ValueError("saga: TOPTOBOTTOM grids not supported")
    if kv.get("BYTEORDER_BIG", "FALSE").upper().startswith("TRUE"):
        raise ValueError("saga: big-endian grids not supported")
    df = kv.get("DATAFORMAT", "DOUBLE").upper()
    if df not in _DTYPES:
        raise ValueError(f"saga: unhandled DATAFORMAT={df!r}")
    return {
        "w": int(kv["CELLCOUNT_X"]), "h": int(kv["CELLCOUNT_Y"]),
        "dtype": _DTYPES[df],
        "offset": int(kv.get("DATAFILE_OFFSET", "0")),
        "xmin_center": float(kv.get("POSITION_XMIN", "0")),
        "ymin_center": float(kv.get("POSITION_YMIN", "0")),
        "cellsize": float(kv.get("CELLSIZE", "1")),
        "nodata": float(kv.get("NODATA_VALUE", "nan")),
    }


def _raw_path(sgrd_path: str) -> str:
    base = sgrd_path[:-5] if sgrd_path.endswith(".sgrd") else sgrd_path
    return base + ".sdat"


def read_saga(
    spark: SparkSession, sgrd_path: str, block_rows: int = 64,
) -> DataFrame:
    """Distributed scan → (gy, gx, val double) with gy 0 = NORTH (the
    engine's raster convention) recovered from the file's bottom-up
    rows; one block of file rows per slab."""
    hdr = parse_sgrd(sgrd_path)
    w, h = hdr["w"], hdr["h"]
    np_dt = np.dtype(hdr["dtype"])
    bl = RG.Blocks(h, block_rows)   # blocks of FILE rows (south-up)

    def decode(read, slab):
        _, fy0, rows = bl.span(slab)
        arr = read(hdr["offset"] + fy0 * w * np_dt.itemsize, (rows, w),
                   np_dt)
        # file row fy -> north-up gy = h - 1 - fy
        yield 0, h - fy0 - rows, 0, arr[::-1]

    return RG.read_slabs(spark, _raw_path(sgrd_path), bl.count, decode)


def write_saga(
    cells: DataFrame, sgrd_path: str, w: int, h: int,
    *, dtype: str = "f4", block_rows: int = 64, fill: float = 0.0,
    xmin: float = 10.0, ymax: float = 50.0,
    cellsize: float = 1.0 / 1024.0, nodata: float = -99999.0,
) -> None:
    """Distributed sink over (gy, gx, val) with gy 0 = north: rows are
    flipped into the format's bottom-up order; POSITION_XMIN/YMIN are
    written as CELL CENTERS per the spec.  One pwrite per block of
    file rows."""
    if dtype not in _OF_NP:
        raise ValueError(f"saga write: unsupported dtype {dtype!r}")
    np_dt = np.dtype(_DTYPES[_OF_NP[dtype]])
    raw = _raw_path(sgrd_path)
    os.makedirs(os.path.dirname(sgrd_path) or ".", exist_ok=True)
    with open(sgrd_path, "wb") as fh:
        fh.write(sgrd_bytes(
            w, h, _OF_NP[dtype],
            xmin + cellsize / 2.0,
            (ymax - h * cellsize) + cellsize / 2.0,
            cellsize, nodata))
    RG.preallocate(raw, b"", RG.fill_row(fill, np_dt, w), h)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, fy0, rows = bl.span(slab)
        fy = h - 1 - pdf["gy"].to_numpy()  # north-up -> file row
        buf = RG.scatter(pdf, (rows, w), fill, np_dt,
                         fy - fy0, pdf["gx"].to_numpy())
        return fy0 * w * np_dt.itemsize, buf

    RG.write_slabs(cells, raw, bl.key(F.lit(h - 1) - F.col("gy")),
                   (h, w), encode)
