"""GXF grid driver — from-scratch codec of the PUBLIC Geosoft Grid
eXchange File Rev 3 ASCII format (reference ``frmts/gxf/gxfopen.c``).

Layout: ``#``-titled keyword records, each title line followed by its
value line(s) —

    #TITLE        free text
    #POINTS       points per scanline (row width)
    #ROWS         scanline count
    #SENSE        scanline orientation; default GXFS_LL_RIGHT = 1,
                  lower-left origin scanning right (gxfopen.c:212,
                  812) — i.e. the FIRST scanline is the SOUTH row
    #DUMMY        the nodata marker value
    #GRID         starts the data: whitespace-separated values,
                  #POINTS per scanline

This driver covers uncompressed GXF (no #GTYPE base-90 compression)
with sense ±1/∓2 row organisations on read and writes sense 1.

Spark mapping: the slab kernel (``sources/_rawgrid.py``), as for
surfer's DSAA text — the sink formats every scanline as one fixed-width
text line, so slab tasks pwrite disjoint ranges; the scan preads
scanline slabs when the fixed-width invariant holds and falls back to a
driver-side token parse for foreign wrapping."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _rawgrid as RG

_CW = 18  # fixed-width cell for the splittable sink
_DUMMY = -1e31


def _scanline(vals: np.ndarray) -> bytes:
    """One fixed-width scanline: every cell ``_CW`` characters wide."""
    return ("".join(f"{v:.12g}".rjust(_CW) for v in vals) + "\n").encode(
        "ascii")


def parse_gxf_header(path: str) -> dict:
    """Driver-side record walk up to #GRID; returns sizes + the byte
    offset of the first data byte."""
    kv: dict[str, str] = {}
    data0 = None
    with open(path, "rb") as fh:
        title = None
        pos = 0
        for raw in fh:
            line = raw.decode("ascii", "replace").rstrip("\r\n")
            if line.startswith("#"):
                title = line.split()[0].upper()
                if title == "#GRID":
                    data0 = pos + len(raw)
                    break
            elif title and title not in kv:
                kv[title] = line.strip()
            pos += len(raw)
    if data0 is None:
        raise ValueError("gxf: no #GRID record")
    if "#POINTS" not in kv or "#ROWS" not in kv:
        raise ValueError("gxf: missing #POINTS/#ROWS")
    sense = int(kv.get("#SENSE", "1"))
    if sense not in (1, -2):
        raise ValueError(f"gxf: unsupported #SENSE {sense} "
                         "(row-organised 1/-2 only)")
    return {"w": int(kv["#POINTS"]), "h": int(kv["#ROWS"]),
            "sense": sense,
            "dummy": float(kv.get("#DUMMY", repr(_DUMMY))),
            "data0": data0}


def read_gxf(spark: SparkSession, path: str,
             block_rows: int = 64) -> DataFrame:
    """Scan → (gy, gx, val double), gy top-down, dummies dropped.
    Fixed-width files read as distributed scanline slabs; foreign
    wraps fall back to a driver-side token parse (the interchange-
    format reality), then parallelize."""
    hdr = parse_gxf_header(path)
    w, h, sense = hdr["w"], hdr["h"], hdr["sense"]
    dummy, data0 = hdr["dummy"], hdr["data0"]
    row_len = w * _CW + 1

    def blank(vals: np.ndarray) -> np.ma.MaskedArray:
        return np.ma.masked_where(np.isclose(vals, dummy, rtol=1e-6), vals)

    if os.path.getsize(path) == data0 + h * row_len:
        bl = RG.Blocks(h, block_rows)

        def decode(read, slab):
            _, s0, rows = bl.span(slab)
            text = read(data0 + s0 * row_len, (rows * row_len,), "u1") \
                .tobytes().decode("ascii")
            vals = blank(np.array(text.split(), dtype=np.float64)
                         .reshape(rows, w))
            # sense 1: scanline 0 is the south row; sense -2: the north
            yield (0, h - s0 - rows, 0, vals[::-1]) if sense == 1 \
                else (0, s0, 0, vals)

        return RG.read_slabs(spark, path, bl.count, decode)
    # foreign wrapping: sequential-prefix problem -> bounded driver parse
    with open(path, "rb") as fh:
        fh.seek(data0)
        toks = fh.read().split()
    vals = np.array(toks, dtype=np.float64)
    if vals.size != w * h:
        raise ValueError(f"gxf: {vals.size} values, want {w * h}")
    vals = blank(vals.reshape(h, w))
    if sense == 1:
        vals = vals[::-1]
    gy, gx = np.nonzero(~np.ma.getmaskarray(vals))
    recs = [(int(y), int(x), float(v)) for y, x, v in
            zip(gy, gx, np.ma.getdata(vals)[gy, gx])]
    return spark.createDataFrame(recs, "gy long, gx long, val double") \
        .repartition(32)


def write_gxf(
    cells: DataFrame, path: str, w: int, h: int,
    *, dummy: float = _DUMMY, title: str = "gdal_spark grid",
) -> None:
    """Sink over (gy, gx, val): header driver-side (sense 1 — south
    row first), one fixed-width text line per scanline written by the
    slab kernel (the surfer DSAA splittable layout)."""
    header = (
        "#TITLE\n"
        f"{title}\n"
        "#POINTS\n"
        f"{w}\n"
        "#ROWS\n"
        f"{h}\n"
        "#SENSE\n"
        "1\n"
        "#DUMMY\n"
        f"{dummy:.12g}\n"
        "#GRID\n"
    ).encode("ascii")
    row_len = w * _CW + 1
    data0 = RG.preallocate(path, header, _scanline(np.full(w, dummy)), h)

    def encode(gy, pdf):
        vals = np.full(w, dummy)
        vals[pdf["gx"].to_numpy()] = pdf["val"].to_numpy()
        return data0 + (h - 1 - gy) * row_len, _scanline(vals)  # sense 1

    RG.write_slabs(cells, path, F.col("gy").cast("long"), (h, w), encode)
