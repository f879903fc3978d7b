"""NGS GEOID (.bin) driver — from-scratch codec of the PUBLIC NOAA/NGS
binary geoid-height grid format (reference
``frmts/ngsgeoid/ngsgeoiddataset.cpp``).

Layout: a 44-byte header (4 doubles + 3 ints, HEADER_SIZE = 4·8+3·4),
then NLAT·NLON float32 geoid heights with the FIRST row at the SOUTH
edge (the reference flips at ngsgeoiddataset.cpp:107-110):

    f64 SLAT   south latitude of the first row (cell center)
    f64 WLON   west longitude of the first column (0..360 convention)
    f64 DLAT, DLON   cell sizes (degrees)
    i32 NLAT, NLON   row/column counts
    i32 IKIND  = 1, doubling as the ENDIANNESS marker: the reader
                 tries little-endian first, then big-endian
                 (ngsgeoiddataset.cpp:163-186); all header and data
                 words share the detected order.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``)
with the bottom-up flip in the slab offsets."""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _rawgrid as RG

HEADER_SIZE = 4 * 8 + 3 * 4


def header_bytes(nlat: int, nlon: int, *, slat: float, wlon: float,
                 dlat: float, dlon: float, big_endian: bool = False) -> bytes:
    e = ">" if big_endian else "<"
    return struct.pack(f"{e}4d", slat, wlon, dlat, dlon) + \
        struct.pack(f"{e}3i", nlat, nlon, 1)


def parse_header(path: str) -> dict:
    with open(path, "rb") as fh:
        buf = fh.read(HEADER_SIZE)
    if len(buf) < HEADER_SIZE:
        raise ValueError("ngsgeoid: truncated header")
    for e, name in (("<", "little"), (">", "big")):
        ikind = struct.unpack_from(f"{e}i", buf, HEADER_SIZE - 4)[0]
        if ikind == 1:
            slat, wlon, dlat, dlon = struct.unpack_from(f"{e}4d", buf, 0)
            nlat, nlon = struct.unpack_from(f"{e}2i", buf, 32)
            if nlat <= 0 or nlon <= 0 or dlat <= 1e-15 or dlon <= 1e-15:
                raise ValueError("ngsgeoid: invalid header ranges")
            return {"slat": slat, "wlon": wlon, "dlat": dlat,
                    "dlon": dlon, "h": nlat, "w": nlon,
                    "endian": name, "dtype": f"{e}f4"}
    raise ValueError("ngsgeoid: IKIND marker != 1 in either byte order")


def read_ngsgeoid(spark: SparkSession, path: str,
                  block_rows: int = 64) -> DataFrame:
    """Distributed scan → (gy, gx, val double, lat, lon double), gy
    top-down; lat/lon are the cell-center coordinates the header
    describes (row 0 of the FILE is the south edge)."""
    hdr = parse_header(path)
    w, h = hdr["w"], hdr["h"]
    np_dt = np.dtype(hdr["dtype"])
    bl = RG.Blocks(h, block_rows)

    def decode(read, slab):
        _, y0, rows = bl.span(slab)
        frow0 = h - (y0 + rows)
        yield 0, y0, 0, read(HEADER_SIZE + frow0 * w * 4, (rows, w),
                             np_dt)[::-1]

    return RG.read_slabs(spark, path, bl.count, decode).select(
        "gy", "gx", "val",
        (F.lit(hdr["slat"]) + (F.lit(h - 1) - F.col("gy"))
         * F.lit(hdr["dlat"])).alias("lat"),
        (F.lit(hdr["wlon"]) + F.col("gx") * F.lit(hdr["dlon"])).alias("lon"))


def write_ngsgeoid(
    cells: DataFrame, path: str, w: int, h: int,
    *, slat: float = 24.0, wlon: float = 230.0,
    dlat: float = 1.0 / 60.0, dlon: float = 1.0 / 60.0,
    big_endian: bool = False, block_rows: int = 64,
) -> None:
    """Distributed sink over (gy, gx, val): 44-byte header driver-side,
    one row-block pwrite per slab at the south-first flipped offset."""
    np_dt = np.dtype((">" if big_endian else "<") + "f4")
    RG.preallocate(path, header_bytes(h, w, slat=slat, wlon=wlon,
                                      dlat=dlat, dlon=dlon,
                                      big_endian=big_endian),
                   bytes(w * 4), h)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w), 0, np_dt,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy(),
                         vals=pdf["val"].to_numpy(np.float64))
        return HEADER_SIZE + (h - (y0 + rows)) * w * 4, buf[::-1]

    RG.write_slabs(cells, path, bl.key(), (h, w), encode)
