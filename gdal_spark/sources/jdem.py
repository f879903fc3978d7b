"""JDEM driver — from-scratch codec of the PUBLIC Japanese DEM (.mem)
format of the Geographic Survey Institute (reference
``frmts/jdem/jdemdataset.cpp``).

Layout (pure ASCII digit fields, fixed widths):

* 1011-byte header (jdemdataset.cpp:24): width as a 3-digit field at
  offset 23, height at offset 26 (jdemdataset.cpp:331-332); corner
  angles are packed DDDMMSS 7-digit fields decoded as
  deg + min/60 + sec/3600 (JDEMGetAngle, jdemdataset.cpp:45-60).
* One record per ROW, record size = width·5 + 9 + 2 (the CRLF;
  jdemdataset.cpp:116): a 6-digit mesh code, a 3-digit 1-BASED row
  number (validated on read, jdemdataset.cpp:177), then width 5-digit
  elevation fields in DECIMETERS — value = field · 0.1 m
  (jdemdataset.cpp:187).

Spark mapping — the fixed record size makes the file splittable by
arithmetic alone: the raw-raster slab kernel (``sources/_rawgrid.py``)
with record-size strides, writing whole records."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

HEADER_SIZE = 1011


def _angle_field(deg: float) -> str:
    d = int(deg)
    m = int((deg - d) * 60)
    s = int(round(((deg - d) * 60 - m) * 60))
    return f"{d:03d}{m:02d}{s:02d}"


def header_bytes(w: int, h: int, *, sw_lat: float = 35.0,
                 sw_lon: float = 135.0) -> bytes:
    buf = bytearray(b"0" * HEADER_SIZE)
    buf[0:6] = b"493346"  # mesh code (fixture value)
    buf[23:26] = f"{w:03d}".encode()
    buf[26:29] = f"{h:03d}".encode()
    # corner angles (DDDMMSS): SW lat, SW lon as the identify fields
    buf[29:36] = _angle_field(sw_lat).encode().rjust(7, b"0")
    buf[36:43] = _angle_field(sw_lon).encode().rjust(7, b"0")
    return bytes(buf)


def parse_header(path: str) -> dict:
    with open(path, "rb") as fh:
        buf = fh.read(HEADER_SIZE)
    if len(buf) < HEADER_SIZE:
        raise ValueError("jdem: truncated 1011-byte header")
    try:
        w = int(buf[23:26])
        h = int(buf[26:29])
    except ValueError as exc:
        raise ValueError("jdem: non-numeric size fields") from exc
    if w <= 0 or h <= 0:
        raise ValueError(f"jdem: bad dimensions {w}x{h}")
    return {"w": w, "h": h, "record": w * 5 + 9 + 2}


def read_jdem(spark: SparkSession, path: str,
              block_rows: int = 64) -> DataFrame:
    """Distributed scan → (gy, gx, val double): one row-block slab per
    pread; each record's 1-based row number is validated like the
    reference does."""
    hdr = parse_header(path)
    w, h, rec = hdr["w"], hdr["h"], hdr["record"]
    bl = RG.Blocks(h, block_rows)

    def decode(read, slab):
        _, y0, rows = bl.span(slab)
        blob = read(HEADER_SIZE + y0 * rec, (rows * rec,), "u1").tobytes()
        recs = []
        for r in range(rows):
            line = blob[r * rec:(r + 1) * rec]
            rownum = int(line[6:9])
            if rownum != y0 + r + 1:
                raise ValueError(
                    f"jdem: record row {rownum} != {y0 + r + 1}")
            recs.append(np.array(
                [int(line[9 + 5 * i:14 + 5 * i]) for i in range(w)],
                dtype=np.float64) * 0.1)
        yield 0, y0, 0, np.vstack(recs)

    return RG.read_slabs(spark, path, bl.count, decode)


def _records(mesh: bytes, y0: int, dm: np.ndarray) -> bytes:
    """The records of rows ``y0..`` of a decimeter grid: mesh code,
    1-based row number, one 5-digit field per column, CRLF."""
    return b"".join(
        mesh + f"{y0 + r + 1:03d}".encode()
        + "".join(f"{v:05d}" for v in row).encode() + b"\r\n"
        for r, row in enumerate(dm))


def write_jdem(
    cells: DataFrame, path: str, w: int, h: int,
    *, mesh_code: str = "493346", block_rows: int = 64, **hdr_kw,
) -> None:
    """Distributed sink over (gy, gx, val): header + blank records
    driver-side, one row-block pwrite of whole records per slab.
    Values are stored as 5-digit decimeter fields (0..99999 →
    0..9999.9 m)."""
    rec = w * 5 + 9 + 2
    mesh = mesh_code.encode()[:6].ljust(6, b"0")
    RG.preallocate(path, header_bytes(w, h, **hdr_kw)
                   + _records(mesh, 0, np.zeros((h, w), dtype=np.int64)),
                   b"", 0)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        dm = np.rint(pdf["val"].to_numpy(np.float64) * 10).astype(np.int64)
        if dm.size and (dm.min() < 0 or dm.max() > 99999):
            raise ValueError("jdem: value outside the 5-digit "
                             "decimeter range")
        grid = RG.scatter(pdf, (rows, w), 0, np.int64,
                          pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy(),
                          vals=dm)
        return HEADER_SIZE + y0 * rec, _records(mesh, y0, grid)

    RG.write_slabs(cells, path, bl.key(), (h, w), encode)
