"""Tile-math parity tests.

Oracle values transcribed from the reference formulas (gdal2tiles.py:416-532)
— constants checked against the comments in the reference source itself
(originShift comment "20037508.342789244", initialResolution comment
"156543.03392804062"), plus well-known WebMercator facts (z0 has one tile;
Greenwich at z1 is tile (1, 0) TMS; quadkey of XYZ (3,5,z4) = "0213"
from the Bing quadkey definition).
"""

import math

import pytest
from pyspark.sql import functions as F

from gdal_spark.spatial import tilemath as TM


def test_constants_match_reference_comments():
    assert TM.ORIGIN_SHIFT == pytest.approx(20037508.342789244, abs=0)
    # gdal2tiles.py's inline comment says ...804062 but the code it annotates
    # (2*pi*6378137/256) evaluates to ...804097 in IEEE754 — we match the
    # CODE (what the reference actually executes), not the stale comment.
    assert TM.INITIAL_RESOLUTION == 2 * math.pi * 6378137 / 256
    assert repr(TM.INITIAL_RESOLUTION) == "156543.03392804097"


def test_py_lonlat_to_meters_known_points():
    mx, my = TM.py_lonlat_to_meters(0.0, 0.0)
    assert mx == 0.0 and abs(my) < 1e-9
    mx, my = TM.py_lonlat_to_meters(180.0, 0.0)
    assert mx == pytest.approx(TM.ORIGIN_SHIFT)
    # top of the mercator domain maps to +originShift
    mx, my = TM.py_lonlat_to_meters(0.0, TM.MAX_LAT)
    assert my == pytest.approx(TM.ORIGIN_SHIFT, rel=1e-12)


def test_py_tile_math_known_tiles():
    # Whole world at z0 is tile (0,0) in both conventions.
    assert TM.py_lonlat_to_tile(0.0001, 0.0001, 0) == (0, 0)
    # Paris (2.35, 48.85) at z12: standard XYZ slippy-map tile (2074, 1409).
    assert TM.py_lonlat_to_tile(2.35, 48.85, 12) == (2074, 1409)
    # NYC (-74.0, 40.71) at z12 → (1206, 1540), cross-checked against the
    # independent slippy-map formula floor((lon+180)/360*2^z) /
    # floor((1-asinh(tan(lat))/pi)/2*2^z).
    assert TM.py_lonlat_to_tile(-74.0, 40.71, 12) == (1206, 1540)
    import math as _m
    for lon, lat, z in [(-74.0, 40.71, 12), (2.35, 48.85, 12), (139.69, 35.68, 9)]:
        ex = _m.floor((lon + 180) / 360 * 2**z)
        ey = _m.floor((1 - _m.asinh(_m.tan(_m.radians(lat))) / _m.pi) / 2 * 2**z)
        assert TM.py_lonlat_to_tile(lon, lat, z) == (ex, ey)


def test_pixels_to_tile_boundary():
    # px exactly k*256 belongs to tile k-1 (ceil semantics, gdal2tiles.py:461-466)
    assert TM.py_pixels_to_tile(256.0, 256.0) == (0, 0)
    assert TM.py_pixels_to_tile(256.0000001, 256.0) == (1, 0)
    assert TM.py_pixels_to_tile(255.9999, 512.0) == (0, 1)


def test_quadkey_reference_examples():
    # Bing maps documented example: tile (3, 5) at level 3 → "213".
    assert TM.py_quadkey(3, 5, 3) == "213"
    assert TM.py_quadkey(0, 0, 1) == "0"
    assert TM.py_quadkey(1, 0, 1) == "1"
    assert TM.py_quadkey(0, 1, 1) == "2"
    assert TM.py_quadkey(1, 1, 1) == "3"


def test_quadkey_mirrors_gdal2tiles_quadtree():
    # gdal2tiles QuadTree takes TMS ty and flips; ours takes XYZ directly.
    def gdal2tiles_quadtree(tx, ty_tms, zoom):
        quad = ""
        ty = (2**zoom - 1) - ty_tms
        for i in range(zoom, 0, -1):
            digit = 0
            mask = 1 << (i - 1)
            if (tx & mask) != 0:
                digit += 1
            if (ty & mask) != 0:
                digit += 2
            quad += str(digit)
        return quad

    for tx, ty_tms, z in [(0, 0, 1), (5, 9, 5), (1023, 77, 10), (2074, 2686, 12)]:
        ty_xyz = (2**z - 1) - ty_tms
        assert TM.py_quadkey(tx, ty_xyz, z) == gdal2tiles_quadtree(tx, ty_tms, z)


def test_column_math_equals_python_mirror(spark):
    import random

    rnd = random.Random(42)
    pts = [
        (i, rnd.uniform(-180, 180), rnd.uniform(-85, 85)) for i in range(500)
    ] + [(1000, 0.0, 0.0), (1001, -180.0, 40.0), (1002, 179.9999, -84.9)]
    df = spark.createDataFrame(pts, "i long, lon double, lat double")
    zoom = 12
    tx, ty = TM.lonlat_to_tile(F.col("lon"), F.col("lat"), zoom)
    out = df.select(
        "i", "lon", "lat", tx.alias("tx"), ty.alias("ty"),
        TM.quadkey(tx, ty, zoom).alias("qk"),
    ).collect()
    for r in out:
        etx, ety = TM.py_lonlat_to_tile(r["lon"], r["lat"], zoom)
        assert (r["tx"], r["ty"]) == (etx, ety), r
        assert r["qk"] == TM.py_quadkey(etx, ety, zoom)


def test_extent_epsilon_rule(spark):
    # floor((x - topLeft)/span + 1e-3): value just below a boundary still maps
    # to the next tile when within 1e-3 of it (gdalalg_raster_tile.cpp:446-465).
    # epsilon is 1e-3 of a tile SPAN: x within 0.1% of the next boundary is
    # pulled into the next tile (here span=100 → threshold at 99.9).
    df = spark.createDataFrame(
        [(0.0,), (99.85,), (99.9,), (100.0,), (199.85,), (199.9,)], "x double"
    )
    idx = TM.extent_to_tile_index(F.col("x"), F.lit(0.0), F.lit(100.0))
    vals = [r[0] for r in df.select(idx).collect()]
    assert vals == [0, 0, 1, 1, 1, 2]


def test_tile_bounds_roundtrip():
    minx, miny, maxx, maxy = TM.py_tile_bounds_meters(0, 0, 0)
    assert minx == pytest.approx(-TM.ORIGIN_SHIFT)
    assert maxx == pytest.approx(TM.ORIGIN_SHIFT)
    span = maxx - minx
    assert span == pytest.approx(2 * TM.ORIGIN_SHIFT)


def test_hilbert_walk_adjacency():
    """Hilbert xy2d: the order-3 curve visits all 64 cells exactly once,
    consecutive codes are grid-adjacent (the locality property the sort
    key exists for; alg/hilbert.cpp:22 semantics)."""
    from gdal_spark.spatial.tilemath import py_hilbert_d

    seen = {}
    for x in range(8):
        for y in range(8):
            seen[py_hilbert_d(x, y, 3)] = (x, y)
    assert sorted(seen) == list(range(64))
    walk = [seen[i] for i in range(64)]
    for (x0, y0), (x1, y1) in zip(walk, walk[1:]):
        assert abs(x1 - x0) + abs(y1 - y0) == 1


def test_hilbert_column_matches_python(spark):
    import random

    from pyspark.sql import functions as F

    from gdal_spark.spatial.tilemath import hilbert_d, py_hilbert_d

    rnd = random.Random(7)
    cells = [(rnd.randrange(256), rnd.randrange(256)) for _ in range(200)]
    df = spark.createDataFrame(cells, "tx int, ty int")
    got = {
        (r["tx"], r["ty"]): r["h"]
        for r in df.withColumn(
            "h", hilbert_d(F.col("tx"), F.col("ty"), 8)
        ).collect()
    }
    for (tx, ty), h in got.items():
        assert h == py_hilbert_d(tx, ty, 8)

