"""ZMap Plus grid driver — from-scratch codec of the PUBLIC Landmark
ZMap ASCII grid format (reference ``frmts/zmap/zmapdataset.cpp``;
layout per its CreateCopy at :593-700).

Format:

* ``!`` comment lines, then a ``@<name>, GRID, <values_per_line>``
  header line followed by three comma-separated parameter lines —
  (field_size, nodata, _, decimals, 1), (n_rows, n_cols, xmin, xmax,
  ymin, ymax), (0.0, 0.0, 0.0) — and a closing ``@`` line;
* data values are right-justified fixed-width text fields,
  ``values_per_line`` per line, in COLUMN-MAJOR order: columns
  left→right, each column TOP→BOTTOM, with a forced line break at the
  end of every column (the reference emits it by default and its
  reader requires the per-column grouping to locate values).

Spark mapping: the document kernel (``sources/_docio.py``) — one
file per grid on write (one task: the format's one-file-one-grid
model), one decode per file on read with a vectorized per-column
reshape."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _docio as DIO
from gdal_spark.sources import _rawgrid as RG

_FIELD, _PER_LINE, _DEC = 20, 4, 7


def _fmt(v: float) -> str:
    """Right-justified value field; values whose fixed-point rendering
    overflows the field width (the 1e30 nodata sentinel) fall back to
    scientific notation so fields never abut."""
    s = f"{v:.{_DEC}f}"
    if len(s) > _FIELD:
        s = f"{v:.{_DEC}E}"
    return s.rjust(_FIELD)


def zmap_bytes(arr: np.ndarray, xmin: float, xmax: float,
               ymin: float, ymax: float, nodata: float = 1e30) -> bytes:
    """Serialize one grid; ``arr`` is (n_rows, n_cols) float with row 0
    = the TOP (north) row, the format's in-column order."""
    h, w = arr.shape
    out = ["!", "! Written by gdal_spark.", "!",
           f"@gdal_spark grid, GRID, {_PER_LINE}"]
    out.append(f"{_FIELD:>10}, {_fmt(nodata)}, "
               f"{'':>10}, {_DEC:>10}, {1:>10}")
    out.append(f"{h:>10}, {w:>10}, {xmin:>14.7f}, {xmax:>14.7f}, "
               f"{ymin:>14.7f}, {ymax:>14.7f}")
    out.append("0.0, 0.0, 0.0")
    out.append("@")
    for c in range(w):
        col = arr[:, c]
        for j0 in range(0, h, _PER_LINE):
            out.append("".join(
                _fmt(v) for v in col[j0:j0 + _PER_LINE]))
    return ("\n".join(out) + "\n").encode("ascii")


def parse_zmap(buf: bytes):
    """→ ``(xmin, xmax, ymin, ymax, nodata, arr)`` with arr (h, w),
    row 0 = top."""
    lines = buf.decode("ascii").splitlines()
    i = 0
    while i < len(lines) and not lines[i].startswith("@"):
        if lines[i][:1] not in ("!", ""):
            raise ValueError("zmap: unexpected pre-header line")
        i += 1
    if i >= len(lines):
        raise ValueError("zmap: missing @GRID header")
    hdr = [t.strip() for t in lines[i].split(",")]
    if len(hdr) < 3 or hdr[1].upper() != "GRID":
        raise ValueError("zmap: not a GRID file")
    p1 = [t.strip() for t in lines[i + 1].split(",")]
    nodata = float(p1[1])
    p2 = [t.strip() for t in lines[i + 2].split(",")]
    h, w = int(p2[0]), int(p2[1])
    xmin, xmax, ymin, ymax = (float(v) for v in p2[2:6])
    i += 3
    while not lines[i].startswith("@"):
        i += 1
    vals: list[float] = []
    for line in lines[i + 1:]:
        if not line.strip():
            continue
        vals.extend(float(t) for t in line.split())
    if len(vals) != w * h:
        raise ValueError(f"zmap: {len(vals)} values for {w}x{h} grid")
    # column-major, each column top->bottom
    arr = np.array(vals, dtype=np.float64).reshape(w, h).T.copy()
    return xmin, xmax, ymin, ymax, nodata, arr


def write_zmap(
    cells: DataFrame, path: str, w: int, h: int,
    *, xmin: float = 0.0, ymax: float = 0.0, cellsize: float = 1.0,
    nodata: float = 1e30,
) -> None:
    """Bounded single-writer sink over (gy, gx, val), gy 0 = north
    (one grid = one text file in this format; fact-scale rasters use
    the engine's tiled formats)."""

    def encode(_, pdf):
        arr = RG.scatter(pdf, (h, w), nodata, np.float64,
                         pdf["gy"].to_numpy(), pdf["gx"].to_numpy())
        return {os.path.basename(path): zmap_bytes(
            arr, xmin, xmin + w * cellsize, ymax - h * cellsize, ymax,
            nodata)}

    DIO.write_files(cells, os.path.dirname(path) or ".", F.lit(0), encode,
                    {"gy": h, "gx": w})


def read_zmap(spark: SparkSession, path: str) -> DataFrame:
    """Scan → (gy, gx, val double), nodata dropped; one decode per file
    (binaryFile bytes, executor-side parse)."""

    def decode(_, buf):
        *_, nodata, arr = parse_zmap(buf)
        keep = arr != nodata
        gy, gx = DIO.grid_index(arr.shape, keep)
        return pd.DataFrame({"gy": gy, "gx": gx, "val": arr[keep]})

    return DIO.read_files(spark, path, decode,
                          "gy long, gx long, val double")
