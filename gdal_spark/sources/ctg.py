"""CTG driver — from-scratch codec of the PUBLIC USGS LULC Composite
Theme Grid format (reference ``frmts/ctg/ctgdataset.cpp``).

Layout: a stream of 80-byte ASCII records with NO line terminators
(the reference seeks ``nLine * 80`` directly):

* 5 header records (ctgdataset.cpp:378-473):
  rec 0 — rows @(0,10), cols @(20,10), cell size @(35,5),
  UTM zone @(50,5); rec 1 — min/max col/row indices (1-based,
  5 wide); rec 3 — NW cell-corner easting @(40,10) and
  northing @(50,10); rec 4 — free-text title.
* One data record per CELL: zone @(0,3), cell-CENTER easting @(3,8),
  northing @(11,8), then SIX 10-wide int land-use/theme values
  (values ≥ 2,000,000,000 read as 0 — ctgdataset.cpp:319-321).
  Cell x = (easting − cell/2 − NWEasting)/cell,
  y = (NWNorthing − northing − cell/2)/cell.

Every record self-describes its position, so the file is order-free;
the engine writes record i at header + (y·cols + x)·80 which makes
both directions pure fixed-stride slab IO.

Spark mapping — one task per slab as in ``sources/_rawgrid.py``, over
80-byte records: read preads disjoint record ranges and trusts each
record's own coordinates; write pwrites each cell-block's records."""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HEADER_RECORDS = 5
NBANDS = 6


def _rec(text: str) -> bytes:
    return text.ljust(80)[:80].encode("ascii")


def header_bytes(rows: int, cols: int, cell: int, zone: int,
                 nw_easting: int, nw_northing: int,
                 title: str = "GDAL_SPARK CTG") -> bytes:
    l0 = (f"{rows:>10}" + " " * 10 + f"{cols:>10}"
          + f"{cell:>10}"[:5].rjust(5) + " " * 10 + f"{zone:>5}")
    # cell is 5 wide at offset 35: build explicitly
    l0 = f"{rows:>10}" + " " * 10 + f"{cols:>10}" + " " * 5 + \
        f"{cell:>5}" + " " * 10 + f"{zone:>5}"
    l1 = f"{1:>5}{1:>5}{cols:>5}{rows:>5}"
    l3 = " " * 40 + f"{nw_easting:>10}{nw_northing:>10}"
    return (_rec(l0) + _rec(l1) + _rec("") + _rec(l3) + _rec(title))


def parse_header(path: str) -> dict:
    with open(path, "rb") as fh:
        buf = fh.read(HEADER_RECORDS * 80)
    if len(buf) < HEADER_RECORDS * 80:
        raise ValueError("ctg: truncated 5-record header")
    s = buf.decode("ascii", "replace")

    def fld(rec: int, off: int, width: int) -> int:
        return int(s[rec * 80 + off:rec * 80 + off + width])

    rows, cols = fld(0, 0, 10), fld(0, 20, 10)
    cell, zone = fld(0, 35, 5), fld(0, 50, 5)
    if not (0 < cell < 10000):
        raise ValueError(f"ctg: bad cell size {cell}")
    if not (0 < zone <= 60):
        raise ValueError(f"ctg: bad UTM zone {zone}")
    if (fld(1, 0, 5), fld(1, 5, 5)) != (1, 1) or \
            (fld(1, 10, 5), fld(1, 15, 5)) != (cols, rows):
        raise ValueError("ctg: index bounds disagree with sizes")
    return {"w": cols, "h": rows, "cell": cell, "zone": zone,
            "nw_easting": fld(3, 40, 10), "nw_northing": fld(3, 50, 10),
            "title": s[4 * 80:5 * 80].strip()}


def read_ctg(spark: SparkSession, path: str,
             block_cells: int = 4096) -> DataFrame:
    """Distributed scan → (gy, gx, band, val long): one task per
    record-range slab; each record's own easting/northing locate it
    (the order-free contract), with the reference's ≥2e9 → 0 rule."""
    hdr = parse_header(path)
    w, h, cell = hdr["w"], hdr["h"], hdr["cell"]
    e0, n0, zone = hdr["nw_easting"], hdr["nw_northing"], hdr["zone"]
    n_cells = w * h
    n_blocks = (n_cells + block_cells - 1) // block_cells

    slabs = spark.range(n_blocks).toDF("slab").repartition(
        min(n_blocks, 32), "slab")

    def read_slab(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fd = os.open(path, os.O_RDONLY)
        try:
            for pdf in batches:
                for s in pdf["slab"].to_numpy():
                    blk = int(s)
                    c0 = blk * block_cells
                    n = min(block_cells, n_cells - c0)
                    blob = os.pread(
                        fd, n * 80, (HEADER_RECORDS + c0) * 80)
                    txt = blob.decode("ascii")
                    recs = []
                    for i in range(n):
                        line = txt[i * 80:(i + 1) * 80]
                        z = int(line[0:3])
                        if z != zone:
                            raise ValueError(
                                f"ctg: record zone {z} != header {zone}")
                        ex = int(line[3:11]) - cell // 2
                        ny = int(line[11:19]) + cell // 2
                        gx, gy = (ex - e0) // cell, (n0 - ny) // cell
                        for b in range(NBANDS):
                            v = int(line[20 + 10 * b:30 + 10 * b])
                            recs.append((gy, gx, b,
                                         0 if v >= 2000000000 else v))
                    yield pd.DataFrame(
                        recs, columns=["gy", "gx", "band", "val"])
        finally:
            os.close(fd)

    return slabs.mapInPandas(
        read_slab, "gy long, gx long, band long, val long")


def write_ctg(
    cells: DataFrame, path: str, w: int, h: int,
    *, cell: int = 200, zone: int = 15,
    nw_easting: int = 400000, nw_northing: int = 5000000,
    block_cells: int = 4096,
) -> None:
    """Distributed sink over (gy, gx, band, val): header + zero-value
    records driver-side... no — records carry coordinates, so the file
    is fully pre-built per slab: one record-range pwrite per task, all
    six band values assembled from the slab's rows."""
    n_cells = w * h
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(header_bytes(h, w, cell, zone, nw_easting, nw_northing))
        fh.truncate((HEADER_RECORDS + n_cells) * 80)

    def write_slab(key, pdf: pd.DataFrame) -> pd.DataFrame:
        blk = int(key[0])
        c0 = blk * block_cells
        n = min(block_cells, n_cells - c0)
        vals = np.zeros((n, NBANDS), dtype=np.int64)
        idx = (pdf["gy"].to_numpy(np.int64) * w
               + pdf["gx"].to_numpy(np.int64)) - c0
        vals[idx, pdf["band"].to_numpy(np.int64)] = \
            pdf["val"].to_numpy(np.int64)
        out = []
        for i in range(n):
            ci = c0 + i
            gy, gx = divmod(ci, w)
            ex = nw_easting + gx * cell + cell // 2
            ny = nw_northing - gy * cell - cell // 2
            out.append(f"{zone:>3}{ex:>8}{ny:>8}".ljust(20)
                       + "".join(f"{v:>10}" for v in vals[i]))
        fd = os.open(path, os.O_WRONLY)
        try:
            os.pwrite(fd, "".join(out).encode("ascii"),
                      (HEADER_RECORDS + c0) * 80)
        finally:
            os.close(fd)
        return pd.DataFrame({"slab": [blk], "n": [len(pdf)]})

    (
        cells.withColumn(
            "_slab",
            F.floor((F.col("gy") * w + F.col("gx"))
                    / F.lit(block_cells)).cast("long"))
        .groupBy("_slab")
        .applyInPandas(write_slab, "slab long, n long")
        .collect()
    )
