"""DuckDB oracles for the benchmark's output checks.

The oracle never calls the code under test.  Point-in-polygon answers come
from the SQL crossing-number test of ``gdal_spark.queries.sql_pip_cte``
(first match) or its copy below over the synthetic layer (all matches);
tiles and quadkeys from the SQL fragments of ``spatial.tilemath``; point
coordinates from ``data.geotag.sql_lon``/``sql_lat`` or the numpy mirror in
``dense_layer``.  Each check runs on a seed-chosen sample of rows, outside
every timed region.
"""

from __future__ import annotations

import glob
import os

import duckdb
import numpy as np
import pandas as pd

import dense_layer


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={
        "threads": 2,
        "memory_limit": "1GB",
        "temp_directory": tmp_dir,
        "autoinstall_known_extensions": False,
        "autoload_known_extensions": False,
    })


def fixture_expected(con, keys: np.ndarray, zoom: int) -> dict[int, tuple]:
    """key -> (poly_id or None, tx, ty, quadkey) for geotagged keys joined
    left, first match, to the 75-part fixture layer."""
    from gdal_spark.data.geotag import sql_lat, sql_lon
    from gdal_spark.queries import sql_pip_cte
    from gdal_spark.spatial import tilemath as TM

    # sql_pip_cte reads its points from a table ``orders(o_orderkey, ...)``
    con.register("orders", pd.DataFrame({
        "o_orderkey": np.asarray(keys, dtype=np.int64), "o_totalprice": 0.0,
    }))
    tx = TM.sql_tile_x(sql_lon("o.o_orderkey"), zoom)
    ty = TM.sql_tile_y_xyz(sql_lat("o.o_orderkey"), zoom)
    rows = con.execute(
        sql_pip_cte()
        + f"SELECT o.o_orderkey, pip.poly_id, {tx}, {ty}, {TM.sql_quadkey(tx, ty, zoom)} "
        "FROM orders o LEFT JOIN pip USING (o_orderkey)"
    ).fetchall()
    con.unregister("orders")
    return {r[0]: tuple(r[1:]) for r in rows}


def register_layer(con, records: list[tuple[int, list]]) -> None:
    """Tables ``boxes`` (exterior envelopes) and ``seg`` (every ring edge,
    prev -> cur as in the numpy kernel) for a polygon layer."""
    ids, boxes, seg_parts = [], [], []
    for pid, rings in records:
        ext = np.asarray(rings[0])
        ids.append(pid)
        boxes.append((ext[:, 0].min(), ext[:, 1].min(), ext[:, 0].max(), ext[:, 1].max()))
        for ring in rings:
            r = np.asarray(ring)
            seg_parts.append(np.column_stack(
                [np.full(len(r) - 1, pid, dtype=np.float64), r[:-1], r[1:]]
            ))
    b = np.asarray(boxes)
    con.register("boxes", pd.DataFrame({
        "poly_id": ids, "xmin": b[:, 0], "ymin": b[:, 1], "xmax": b[:, 2], "ymax": b[:, 3],
    }))
    s = np.vstack(seg_parts)
    con.register("seg", pd.DataFrame({
        "poly_id": s[:, 0].astype(np.int64),
        "x2a": s[:, 1], "y2a": s[:, 2], "x1a": s[:, 3], "y1a": s[:, 4],
    }))


def dense_expected(con, keys: np.ndarray, seed: int) -> list[tuple[int, int]]:
    """Sorted (id, poly_id) pairs of every polygon containing each point —
    the crossing-number rule of ``sql_pip_cte``, all matches, over the
    tables of :func:`register_layer`."""
    lon, lat = dense_layer.point_arrays(keys, seed)
    con.register("pts", pd.DataFrame({"id": keys, "lon": lon, "lat": lat}))
    rows = con.execute("""
WITH cand AS (
  SELECT p.id, p.lon, p.lat, b.poly_id FROM pts p JOIN boxes b
    ON p.lon BETWEEN b.xmin AND b.xmax AND p.lat BETWEEN b.ymin AND b.ymax),
cross_counts AS (
  SELECT c.id, c.poly_id,
         sum(CASE WHEN (((s.y1a - c.lat) > 0 AND (s.y2a - c.lat) <= 0)
                     OR ((s.y2a - c.lat) > 0 AND (s.y1a - c.lat) <= 0))
                  AND ((s.x1a - c.lon) * (s.y2a - c.lat)
                     - (s.x2a - c.lon) * (s.y1a - c.lat))
                      / ((s.y2a - c.lat) - (s.y1a - c.lat)) > 0
             THEN 1 ELSE 0 END) AS n_cross
  FROM cand c JOIN seg s USING (poly_id)
  GROUP BY c.id, c.poly_id)
SELECT id, poly_id FROM cross_counts WHERE n_cross % 2 = 1 ORDER BY id, poly_id
""").fetchall()
    con.unregister("pts")
    return rows


def _parquet(path: str) -> str:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


def tiles_out_of_range(con, tiles_dir: str, zoom: int) -> int:
    n = 1 << zoom
    return con.execute(
        f"SELECT count(*) FROM {_parquet(tiles_dir)} WHERE tx IS NULL OR ty IS NULL "
        f"OR tx < 0 OR tx >= {n} OR ty < 0 OR ty >= {n}"
    ).fetchone()[0]


ROLLUP_COLS = "tx, ty, quadkey, n, matched"


def rollup_mismatches(con, tiles_dir: str, rollup_dir: str) -> int:
    """Rows in which the written rollup and a DuckDB rollup of the written
    tiles differ, counted both ways."""
    mine = (
        f"SELECT tx, ty, quadkey, count(*) AS n, count(poly_id) AS matched "
        f"FROM {_parquet(tiles_dir)} GROUP BY ALL"
    )
    theirs = f"SELECT {ROLLUP_COLS} FROM {_parquet(rollup_dir)}"
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({mine} EXCEPT ALL {theirs})) "
        f"+ (SELECT count(*) FROM ({theirs} EXCEPT ALL {mine}))"
    ).fetchone()[0]


def digest(con, data_dir: str) -> tuple:
    """Order-free fingerprint of a rollup table: row count and hash sum."""
    return con.execute(
        f"SELECT count(*), sum(hash({ROLLUP_COLS})) FROM {_parquet(data_dir)}"
    ).fetchone()
