"""USGS DEM (ASCII) driver — from-scratch codec of the PUBLIC USGS
Digital Elevation Model text format (reference
``frmts/usgsdem/usgsdemdataset.cpp``).

Format (public USGS standard; geographic-coordinate variant):

* Type A record (1024 bytes, space-padded ASCII) — the reference seeks
  fixed offsets inside it (usgsdemdataset.cpp:643-694): coord system +
  zone at 156, ground/vertical unit codes at 528, the four corner
  coordinates (SW,NW,NE,SE as x,y pairs; arc-seconds when geographic)
  as 24-char Fortran D-exponent floats at 546, min/max elevation at
  738, the dx/dy/dz spatial resolutions as 12-char floats at 816, and
  the 1 × nProfiles profile-count pair at 852/858;
* one Type B record per PROFILE (a south→north column, columns
  west→east): 4 ints (row id=1, column id, point count, col count=1),
  then 5 × 24-char D-floats (x-start, y-start in arc-sec, elevation
  offset, z-min, z-max), then the elevations as right-justified 6-char
  ints; records padded with spaces to a 1024-byte block multiple;
* nodata is -32767; Fortran ``D`` exponents are swapped to ``E``
  before parsing (the reference's DConvert does the same).

Spark mapping: the document kernel (``sources/_docio.py``) — one
``.dem`` per 1×1-degree cell on write, one decode per cell on read with
a whitespace-token scan of the profile region (block padding is
whitespace, so records spanning 1024-byte blocks need no special
casing).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.sources import _docio as DIO
from gdal_spark.sources import _rawgrid as RG

NODATA = -32767
_BLK = 1024


def _dfloat(x: float, width: int) -> str:
    """Right-justified Fortran D-exponent float field."""
    s = f"{x:.{width - 9}E}".replace("E", "D")
    return s.rjust(width)


def dem_bytes(arr: np.ndarray, lat_sw: int, lon_sw: int) -> bytes:
    """Serialize one 1×1-degree cell.  ``arr`` is (n_lat, n_lon) int16
    with ROW 0 = SOUTH (a profile is a south→north column); 3600 must
    divide by n-1 so the arc-second spacing is exact."""
    n_lat, n_lon = arr.shape
    for n in (n_lat, n_lon):
        if n < 2 or 3600 % (n - 1):
            raise ValueError(f"usgsdem: 3600 % (n-1) != 0 for n={n}")
    dx = 3600.0 / (n_lon - 1)
    dy = 3600.0 / (n_lat - 1)
    x0, y0 = lon_sw * 3600.0, lat_sw * 3600.0  # arc-seconds

    a = bytearray(b" " * _BLK)
    a[0:40] = b"GDAL_SPARK SYNTHETIC CELL".ljust(40)
    a[156:162] = b"%6d" % 0          # coord system 0 = geographic
    a[162:168] = b"%6d" % 0          # zone
    a[528:534] = b"%6d" % 3          # ground unit 3 = arc-seconds
    a[534:540] = b"%6d" % 2          # vertical unit 2 = meters
    corners = [(x0, y0), (x0, y0 + 3600.0),
               (x0 + 3600.0, y0 + 3600.0), (x0 + 3600.0, y0)]
    off = 546
    for cx, cy in corners:           # SW, NW, NE, SE
        a[off:off + 24] = _dfloat(cx, 24).encode()
        a[off + 24:off + 48] = _dfloat(cy, 24).encode()
        off += 48
    valid = arr[arr != NODATA]
    zmin = float(valid.min()) if valid.size else 0.0
    zmax = float(valid.max()) if valid.size else 0.0
    a[738:762] = _dfloat(zmin, 24).encode()
    a[762:786] = _dfloat(zmax, 24).encode()
    a[786:810] = _dfloat(0.0, 24).encode()   # rotation
    a[810:816] = b"%6d" % 0                  # accuracy code
    a[816:828] = _dfloat(dx, 12).encode()
    a[828:840] = _dfloat(dy, 12).encode()
    a[840:852] = _dfloat(1.0, 12).encode()   # z resolution
    a[852:858] = b"%6d" % 1                  # rows of profiles
    a[858:864] = b"%6d" % n_lon              # profile columns

    out = [bytes(a)]
    for c in range(n_lon):
        parts = ["%6d" % 1, "%6d" % (c + 1), "%6d" % n_lat, "%6d" % 1,
                 _dfloat(x0 + c * dx, 24), _dfloat(y0, 24),
                 _dfloat(0.0, 24),
                 _dfloat(float(arr[:, c][arr[:, c] != NODATA].min())
                         if (arr[:, c] != NODATA).any() else 0.0, 24),
                 _dfloat(float(arr[:, c][arr[:, c] != NODATA].max())
                         if (arr[:, c] != NODATA).any() else 0.0, 24)]
        parts.extend("%6d" % int(v) for v in arr[:, c])
        rec = "".join(parts).encode("ascii")
        pad = (-len(rec)) % _BLK
        out.append(rec + b" " * pad)
    return b"".join(out)


def parse_dem(buf: bytes):
    """→ ``(lat_sw, lon_sw, arr)``, ``arr`` (n_lat, n_lon) int16 with
    row 0 = south.  Type A fields read at the reference's fixed
    offsets; the profile region is a whitespace-token scan with D→E
    exponent swap (block padding is whitespace, so records crossing
    1024-byte blocks need no special handling)."""
    def dparse(s: bytes) -> float:
        return float(s.decode("ascii").strip()
                     .replace("D", "E").replace("d", "E"))

    sw_x = dparse(buf[546:570])
    sw_y = dparse(buf[570:594])
    dx = dparse(buf[816:828])
    dy = dparse(buf[828:840])
    n_lon = int(buf[858:864])
    n_lat = int(round(3600.0 / dy)) + 1
    lon_sw = int(round(sw_x / 3600.0))
    lat_sw = int(round(sw_y / 3600.0))

    # sign-aware number scan, NOT a whitespace split: a full-width
    # negative field ("-32767" fills its 6 chars) abuts the next token
    # with no separator — the reference's int reader treats the '-' as
    # the next number's sign (USGSDEMReadIntFromBuffer) and so does this
    import re

    toks = re.findall(
        rb"[-+]?\d+(?:\.\d+)?(?:[DdEe][-+]?\d+)?", buf[_BLK:])
    arr = np.full((n_lat, n_lon), NODATA, dtype=np.int16)
    t = 0
    for _ in range(n_lon):
        col = int(toks[t + 1]) - 1
        n_pts = int(toks[t + 2])
        x_start = float(toks[t + 4].replace(b"D", b"E"))
        if int(round((x_start - sw_x) / dx)) != col:
            raise ValueError("usgsdem: profile x-start disagrees with "
                             "its column id")
        t += 9
        vals = np.array([int(v) for v in toks[t:t + n_pts]],
                        dtype=np.int16)
        arr[:n_pts, col] = vals
        t += n_pts
    return lat_sw, lon_sw, arr


def write_dem_cells(cells: DataFrame, directory: str,
                    n_lat: int, n_lon: int) -> int:
    """Distributed .dem sink over (lat_sw, lon_sw, row, col, elev) —
    row 0 = the cell's SOUTH edge.  Absent samples become NODATA; one
    text file per 1-degree cell (bounded task)."""

    def encode(tile, pdf):
        lat_sw, lon_sw = map(int, tile)
        arr = RG.scatter(pdf, (n_lat, n_lon), NODATA, np.int16,
                         pdf["row"].to_numpy(), pdf["col"].to_numpy(),
                         vals=pdf["elev"].to_numpy(np.int64))
        ns = "n" if lat_sw >= 0 else "s"
        ew = "e" if lon_sw >= 0 else "w"
        return {f"{ns}{abs(lat_sw):02d}{ew}{abs(lon_sw):03d}.dem":
                dem_bytes(arr, lat_sw, lon_sw)}

    return DIO.write_files(cells, directory,
                           (F.col("lat_sw"), F.col("lon_sw")), encode,
                           {"row": n_lat, "col": n_lon})


def read_dem(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed .dem scan → (lat_sw, lon_sw, row, col, elev, lon,
    lat); NODATA dropped.  lon/lat come from the Type A corner +
    resolution fields (arc-seconds → degrees)."""

    def decode(path, buf):
        lat_sw, lon_sw, arr = parse_dem(buf)
        n_lat, n_lon = arr.shape
        keep = arr != NODATA
        rows, cols = DIO.grid_index(arr.shape, keep)
        return DIO.tile_frame(lat_sw, lon_sw, rows, cols, arr[keep],
                              lon_sw + cols / (n_lon - 1.0),
                              lat_sw + rows / (n_lat - 1.0))

    return DIO.read_files(spark, f"{directory}/*.dem", decode,
                          DIO.TILE_SCHEMA)
