"""PGDump driver — PostgreSQL/PostGIS SQL dump layout (reference
``ogr/ogrsf_frmts/pgdump/ogrpgdumpdatasource.cpp``; write-only there, so
the read half here is the engine's own COPY parser, used for the
roundtrip contract).

Format: a SQL script per layer — ``CREATE TABLE``, PostGIS
``AddGeometryColumn``, then a ``COPY ... FROM stdin;`` block of
tab-delimited rows (geometry as uppercase hex EWKB-compatible WKB,
little-endian) terminated by ``\\.``.

Spark mapping: the document kernel (``sources/_docio.py``) — one
.sql dump per block on write, one decode per dump on read.  Doubles ride
the 8-byte IEEE WKB payload, bit-exact by construction.
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO

_WKB_POINT_LE = "<BIdd"  # byte order, geometry type 1, x, y


def pgdump_text(table: str, rows: list[tuple[float, float, list]],
                int_fields: list[str]) -> str:
    """Serialize one Point-layer block as a PG dump script."""
    cols = ", ".join(f'"{c}" INTEGER' for c in int_fields)
    copy_cols = ", ".join(['"wkb_geometry"'] + [f'"{c}"' for c in int_fields])
    out = [
        "SET standard_conforming_strings = ON;\n",
        f'CREATE TABLE "public"."{table}" ( "ogc_fid" SERIAL, {cols} );\n',
        f"SELECT AddGeometryColumn('public','{table}',"
        "'wkb_geometry',4326,'POINT',2);\n",
        f'COPY "public"."{table}" ({copy_cols}) FROM stdin;\n',
    ]
    for x, y, attrs in rows:
        wkb = struct.pack(_WKB_POINT_LE, 1, 1, x, y).hex().upper()
        out.append("\t".join([wkb] + [str(int(a)) for a in attrs]) + "\n")
    out.append("\\.\n")
    return "".join(out)


def parse_pgdump(text: str, int_fields: list[str]) -> pd.DataFrame:
    """→ DataFrame(int_fields…, x, y) from the dump's COPY block."""
    lines = text.splitlines()
    try:
        start = next(i for i, ln in enumerate(lines)
                     if ln.startswith("COPY ")) + 1
    except StopIteration:
        raise ValueError("pgdump: no COPY block") from None
    rows = []
    for ln in lines[start:]:
        if ln == "\\.":
            break
        parts = ln.split("\t")
        order, gtype, x, y = struct.unpack(
            _WKB_POINT_LE, bytes.fromhex(parts[0]))
        if order != 1 or gtype != 1:
            raise ValueError(f"pgdump: unsupported WKB (order={order}, "
                             f"type={gtype})")
        rows.append([int(v) for v in parts[1:]] + [x, y])
    return pd.DataFrame(rows, columns=int_fields + ["x", "y"])


def write_point_pgdumps(pts: DataFrame, directory: str, table: str,
                        int_fields: list[str], num_files: int = 8,
                        x_col: str = "lon", y_col: str = "lat") -> int:
    """Distributed Point-layer sink: one .sql dump per block."""

    def encode(blk, pdf):
        rows = [(float(r[x_col]), float(r[y_col]),
                 [r[c] for c in int_fields])
                for _, r in pdf.sort_values(int_fields[0]).iterrows()]
        return {f"block-{blk:05d}.sql":
                pgdump_text(table, rows, int_fields).encode()}

    return DIO.write_files(pts, directory,
                           DIO.hash_key(int_fields[0], num_files), encode)


def read_point_pgdumps(spark: SparkSession, directory: str,
                       int_fields: list[str]) -> DataFrame:
    """Distributed scan of the COPY blocks: one decode per dump."""
    return DIO.read_files(
        spark, f"{directory}/*.sql",
        lambda path, buf: parse_pgdump(buf.decode(), int_fields),
        DIO.point_schema(int_fields))
