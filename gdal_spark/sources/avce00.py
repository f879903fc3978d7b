"""AVCE00 driver — from-scratch codec of the PUBLIC ESRI ArcInfo E00
interchange format's ARC section (reference
``ogr/ogrsf_frmts/avc/avc_e00gen.cpp``, ``avc_misc.cpp``).

E00 is the classic fixed-width ASCII coverage interchange:

* ``EXP  0 <path>`` opener; ``ARC  2`` starts a single-precision arc
  section (3 = double).
* Per arc (avc_e00gen.cpp:355-371): a header of seven ``%10d`` fields —
  arc id, user id, from-node, to-node, left polygon, right polygon,
  vertex count — then the vertices as sign-prefixed ``%10.7E`` 14-char
  reals (avc_misc.cpp:456-458), TWO x,y pairs per line with a final
  1-pair line when the count is odd (avc_e00gen.cpp:395-417).
* The section ends with a ``-1`` arc header (7 fields); the file with
  ``END``.

Spark mapping: the document kernel (``sources/_docio.py``) — one
complete ``.e00`` shard per shard of the arc id on write, one decode
per shard on read (fixed-width executor-side parse)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _docio as DIO


def _real(v: float) -> str:
    """Sign char + %10.7E — the AVC single-precision 14-char field."""
    return ("-" if v < 0 else " ") + f"{abs(v):10.7E}"


def arcs_e00_bytes(arcs: list[dict]) -> bytes:
    """arcs: [{arc_id, user_id, fnode, tnode, lpoly, rpoly,
    xy: (n,2) array}, ...] → a complete single-precision E00 file."""
    out = ["EXP  0 GDAL_SPARK.E00\n", "ARC  2\n"]
    for a in arcs:
        xy = np.asarray(a["xy"], dtype=np.float64)
        out.append("".join(
            f"{a[k]:10d}" for k in
            ("arc_id", "user_id", "fnode", "tnode", "lpoly", "rpoly"))
            + f"{len(xy):10d}\n")
        for i in range(0, len(xy), 2):
            pair = xy[i:i + 2]
            out.append("".join(_real(v) for p in pair for v in p) + "\n")
    out.append(f"{-1:10d}" + f"{0:10d}" * 6 + "\n")
    out.append("END\n")
    return "".join(out).encode("ascii")


def parse_e00_arcs(buf: bytes) -> list[dict]:
    """Parse the ARC section of a single-precision E00 file."""
    lines = buf.decode("ascii").splitlines()
    it = iter(lines)
    first = next(it, "")
    if not first.startswith("EXP"):
        raise ValueError("e00: missing EXP opener")
    for line in it:
        if line.startswith("ARC"):
            break
    else:
        raise ValueError("e00: no ARC section")
    arcs = []
    for line in it:
        fields = [int(line[i * 10:(i + 1) * 10]) for i in range(7)]
        if fields[0] == -1:
            break
        n = fields[6]
        vals: list[float] = []
        while len(vals) < 2 * n:
            row = next(it)
            k = len(row) // 14
            vals.extend(float(row[j * 14:(j + 1) * 14]) for j in range(k))
        if len(vals) != 2 * n:
            raise ValueError("e00: vertex field count mismatch")
        arcs.append({
            "arc_id": fields[0], "user_id": fields[1],
            "fnode": fields[2], "tnode": fields[3],
            "lpoly": fields[4], "rpoly": fields[5],
            "xy": np.array(vals, dtype=np.float64).reshape(n, 2),
        })
    return arcs


def write_arc_e00s(
    df: DataFrame, directory: str, num_files: int,
    *, id_col: str = "arc_id", seq_col: str = "seq",
    x_col: str = "x", y_col: str = "y",
    node_cols: tuple[str, str] = ("fnode", "tnode"),
    poly_cols: tuple[str, str] = ("lpoly", "rpoly"),
) -> int:
    """Distributed ARC sink over exploded vertex rows: one .e00 shard
    per shard of the arc id, arcs assembled executor-side."""
    cols = [id_col, seq_col, x_col, y_col, *node_cols, *poly_cols]

    def encode(part, pdf):
        arcs = []
        for aid, g in pdf.sort_values([id_col, seq_col]).groupby(
                id_col, sort=True):
            arcs.append({
                "arc_id": int(aid), "user_id": int(aid),
                "fnode": int(g[node_cols[0]].iloc[0]),
                "tnode": int(g[node_cols[1]].iloc[0]),
                "lpoly": int(g[poly_cols[0]].iloc[0]),
                "rpoly": int(g[poly_cols[1]].iloc[0]),
                "xy": g[[x_col, y_col]].to_numpy(np.float64),
            })
        return {f"part-{part:05d}.e00": arcs_e00_bytes(arcs)}

    return DIO.write_files(df.select(*cols), directory,
                           DIO.hash_key(id_col, num_files), encode)


def read_arc_e00s(spark: SparkSession, directory: str) -> DataFrame:
    """Distributed ARC scan → exploded vertex rows (arc_id, fnode,
    tnode, lpoly, rpoly, seq, x, y); one decode per .e00 shard."""
    names = ["arc_id", "fnode", "tnode", "lpoly", "rpoly"]

    def decode(path, buf):
        return pd.DataFrame(
            [[a[c] for c in names] + [s, float(x), float(y)]
             for a in parse_e00_arcs(buf)
             for s, (x, y) in enumerate(a["xy"])],
            columns=names + ["seq", "x", "y"])

    return DIO.read_files(
        spark, f"{directory}/*.e00", decode,
        DIO.point_schema(names + ["seq"]))
