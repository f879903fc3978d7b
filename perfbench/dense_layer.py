"""Seeded synthetic polygon layers for the ``dense_polygons`` workload.

Two overlapping layers over one lon/lat window:

* layer A: one star-shaped polygon per cell of a 64x64 grid (4,096 parts),
  16-64 vertices each, about one in ten with a hole;
* layer B: one larger polygon per cell of a 26x26 grid (676 parts), ids
  from ``B_ID0``, so a point can fall in one polygon of each layer.

Every ring is star-shaped around its cell centre with jittered-regular
angles, so rings are simple and a hole of 0.4x the smallest outer radius
lies strictly inside its shell.  Points are a closed form of the row id
(integer congruences, as in ``gdal_spark.data.geotag``) so Spark, numpy and
DuckDB compute bit-identical doubles.
"""

from __future__ import annotations

import numpy as np

X0, Y0, SPAN = 100.0, 10.0, 18.0
A_GRID, B_GRID = 64, 26
B_ID0 = 1_000_000
HOLE_FRAC = 0.1

# point closed form: coord = origin + SPAN * ((id * mul + seed) % mod) / mod
_LON_MUL, _LON_MOD = 7919, 999_983
_LAT_MUL, _LAT_MOD = 6151, 1_000_003


def _star(rng, cx, cy, half, n):
    k = np.arange(n)
    ang = 2.0 * np.pi * (k + 0.8 * rng.random(n)) / n
    rad = half * rng.uniform(0.6, 0.95, n)
    ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
    return np.vstack([ring, ring[:1]]), float(rad.min())


def layer_records(seed: int) -> list[tuple[int, list]]:
    """``[(poly_id, rings)]`` for both layers; rings are nested float lists
    (exterior CCW, holes CW), the ``rings`` column of the polygon schema."""
    rng = np.random.default_rng(seed)
    out = []
    for grid, id0 in ((A_GRID, 0), (B_GRID, B_ID0)):
        cell = SPAN / grid
        for j in range(grid):
            for i in range(grid):
                cx, cy = X0 + (i + 0.5) * cell, Y0 + (j + 0.5) * cell
                shell, rmin = _star(rng, cx, cy, cell / 2.0, int(rng.integers(16, 65)))
                rings = [shell]
                if id0 == 0 and rng.random() < HOLE_FRAC:
                    hole, _ = _star(rng, cx, cy, 0.4 * rmin / 0.95, 16)
                    rings.append(hole[::-1])
                out.append((id0 + j * grid + i, [r.tolist() for r in rings]))
    return out


def polygons_df(spark, seed: int):
    return spark.createDataFrame(
        layer_records(seed), "poly_id long, rings array<array<array<double>>>"
    )


def point_columns(id_col, seed: int):
    """(lon, lat) Spark columns for row ids ``id_col``."""
    from pyspark.sql import functions as F

    def coord(origin, mul, mod):
        frac = ((id_col * F.lit(mul) + F.lit(seed)) % F.lit(mod)) / F.lit(float(mod))
        return F.lit(origin) + F.lit(SPAN) * frac

    return coord(X0, _LON_MUL, _LON_MOD), coord(Y0, _LAT_MUL, _LAT_MOD)


def point_arrays(ids: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """numpy mirror of :func:`point_columns` (same operations, same order)."""
    ids = np.asarray(ids, dtype=np.int64)
    lon = X0 + SPAN * (((ids * _LON_MUL + seed) % _LON_MOD) / float(_LON_MOD))
    lat = Y0 + SPAN * (((ids * _LAT_MUL + seed) % _LAT_MOD) / float(_LAT_MOD))
    return lon, lat
