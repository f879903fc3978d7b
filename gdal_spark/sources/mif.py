"""MapInfo Interchange Format (MIF/MID) driver — the PUBLIC MapInfo
interchange text layout (reference ``ogr/ogrsf_frmts/mitab/mitab_miffile.cpp``).

A layer is a file PAIR: ``.mif`` carries the header (``Version`` /
``Charset`` / ``Delimiter`` / ``Columns`` schema) and the geometry stream
after ``Data`` (``Point x y``, ``Region nrings`` + per-ring vertex blocks,
``Pline``…); ``.mid`` carries one delimited attribute row per feature in
the same order — the spec's implicit positional 1:1, exactly like the
shapefile .shp↔.dbf pairing.

Spark mapping: the document kernel (``sources/_docio.py``) — one
MIF/MID pair per block on write, one decode per ``.mif`` on read, which
reads its ``.mid`` sibling by path.  Coordinates are written as Python
shortest-roundtrip decimals, so doubles survive bit-exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO


def mif_pair(rows: list[tuple[float, float, list]],
             int_fields: list[str]) -> tuple[str, str]:
    """Serialize one Point layer block → (mif text, mid text); each row
    is (x, y, [int attribute values])."""
    cols = "\n".join(f"  {c} Integer" for c in int_fields)
    mif = [f"Version 300\nCharset \"Neutral\"\nDelimiter \",\"\n"
           f"Columns {len(int_fields)}\n{cols}\nData\n"]
    mid = []
    for x, y, attrs in rows:
        mif.append(f"Point {x!r} {y!r}\n")
        mid.append(",".join(str(int(a)) for a in attrs) + "\n")
    return "".join(mif), "".join(mid)


def parse_mif_pair(mif: str, mid: str,
                   int_fields: list[str]) -> pd.DataFrame:
    """→ DataFrame(int_fields…, x, y) for a Point-layer pair."""
    lines = mif.splitlines()
    delim = ","
    n_cols = 0
    i = 0
    while i < len(lines):
        tok = lines[i].strip()
        low = tok.lower()
        if low.startswith("delimiter"):
            delim = tok.split('"')[1]
        elif low.startswith("columns"):
            n_cols = int(tok.split()[1])
            i += n_cols  # schema lines; attribute types ride in the .mid
        elif low == "data":
            i += 1
            break
        i += 1
    xs, ys = [], []
    for ln in lines[i:]:
        t = ln.strip()
        if not t:
            continue
        parts = t.split()
        if parts[0].lower() != "point":
            raise ValueError(f"mif: unsupported geometry '{parts[0]}'")
        xs.append(float(parts[1]))
        ys.append(float(parts[2]))
    attrs = [ln.split(delim) for ln in mid.splitlines() if ln.strip()]
    if len(attrs) != len(xs):
        raise ValueError(
            f"mif: {len(xs)} geometries but {len(attrs)} .mid rows")
    out = pd.DataFrame(attrs, columns=int_fields[:len(attrs[0]) if attrs
                                                 else len(int_fields)])
    for c in int_fields:
        out[c] = out[c].astype("int64")
    out["x"], out["y"] = xs, ys
    return out


def write_point_mifs(pts: DataFrame, directory: str,
                     int_fields: list[str], num_files: int = 8,
                     x_col: str = "lon", y_col: str = "lat") -> int:
    """Distributed Point-layer sink: one .mif/.mid pair per block."""

    def encode(blk, pdf):
        rows = [(float(r[x_col]), float(r[y_col]),
                 [r[c] for c in int_fields])
                for _, r in pdf.sort_values(int_fields[0]).iterrows()]
        mif, mid = mif_pair(rows, int_fields)
        return {f"block-{blk:05d}.mif": mif.encode(),
                f"block-{blk:05d}.mid": mid.encode()}

    return DIO.write_files(pts, directory,
                           DIO.hash_key(int_fields[0], num_files), encode)


def read_point_mifs(spark: SparkSession, directory: str,
                    int_fields: list[str]) -> DataFrame:
    """Distributed Point-layer scan: one decode per .mif, which reads
    its .mid sibling by path."""

    def decode(path, buf):
        with open(path[:-len(".mif")] + ".mid", "rb") as fh:
            return parse_mif_pair(buf.decode(), fh.read().decode(),
                                  int_fields)

    return DIO.read_files(spark, f"{directory}/*.mif", decode,
                          DIO.point_schema(int_fields))
