"""Raster sampling + pyramid parity vs numpy oracles implementing the
reference kernels verbatim (gdalwarpkernel.cpp:5228-5330 nearest, the
:104-126 filter menu for the tap samplers; overview.cpp kernels)."""

import functools
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.operators import tiles as T
from gdal_spark.spatial import tilemath as TM

ZOOM = 3
TS = 32  # small tile size to keep test data tiny; math is size-generic


@pytest.fixture(scope="module")
def raster(spark):
    return T.synthetic_raster(spark, ZOOM, bands=2, tile_size=TS).cache()


def py_global_pixel(lon, lat):
    mx, my = TM.py_lonlat_to_meters(lon, lat)
    res = 2 * TM.ORIGIN_SHIFT / ((1 << ZOOM) * TS)
    return (mx + TM.ORIGIN_SHIFT) / res, (TM.ORIGIN_SHIFT - my) / res


def py_pixel_value(gpx, gpy, band):
    return float((gpx * 31 + gpy * 17 + band * 7) % 256)


def oracle_nearest(lon, lat, band):
    gx, gy = py_global_pixel(lon, lat)
    n = (1 << ZOOM) * TS - 1
    ix = min(n, max(0, int(math.floor(gx + 1e-10))))
    iy = min(n, max(0, int(math.floor(gy + 1e-10))))
    return py_pixel_value(ix, iy, band)


def _tap_oracle(offsets, weight, normalize, nodata=None):
    """Warp-kernel tap sum (GWKResample): taps at ``offsets`` around
    floor(src - 0.5), edge-clamped, separable weights w(frac - offset);
    Σw·v, or Σw·v / Σw over the taps whose value is not ``nodata``."""

    def oracle(lon, lat, band):
        gx, gy = py_global_pixel(lon, lat)
        n = (1 << ZOOM) * TS - 1
        ix0 = math.floor(gx - 0.5)
        iy0 = math.floor(gy - 0.5)
        fx = gx - 0.5 - ix0
        fy = gy - 0.5 - iy0
        num = den = 0.0
        for dy in offsets:
            for dx in offsets:
                v = py_pixel_value(min(n, max(0, ix0 + dx)), min(n, max(0, iy0 + dy)), band)
                if v == nodata:
                    continue
                w = weight(fx - dx) * weight(fy - dy)
                num += w * v
                den += w
        return num / den if normalize else num

    return oracle


def _triangle(t):
    return max(0.0, 1.0 - abs(t))


def _catmull_rom(t, a=-0.5):  # GWKCubic
    t = abs(t)
    if t < 1:
        return (a + 2) * t ** 3 - (a + 3) * t ** 2 + 1
    if t < 2:
        return a * (t ** 3 - 5 * t ** 2 + 8 * t - 4)
    return 0.0


def _bspline(t):  # GWKBSpline ×6; the constant cancels in Σw·v / Σw
    t = abs(t)
    if t < 1:
        return 4 - 6 * t ** 2 + 3 * t ** 3
    if t < 2:
        return (2 - t) ** 3
    return 0.0


def _lanczos3(t, a=3.0):  # GWKLanczosSinc
    if t == 0:
        return 1.0
    return a * math.sin(math.pi * t) * math.sin(math.pi * t / a) / (math.pi * t) ** 2


PROBES = [
    (0, 2.35, 48.85),
    (1, -120.7, 33.3),
    (2, 0.0, 0.0),        # exact grid seam
    (3, 179.999, -83.0),
    (4, -179.999, 84.9),
    (5, 45.0, 45.0),
    (6, 0.0001, -0.0001),
]


@pytest.fixture(scope="module")
def probe_df(spark):
    return spark.createDataFrame(PROBES, "i long, lon double, lat double")


def test_nearest_matches_reference_kernel(spark, raster, probe_df):
    got = {
        r["i"]: r["nearest_val"]
        for r in T.sample_nearest(probe_df, raster, ZOOM, band=1, tile_size=TS).collect()
    }
    for i, lon, lat in PROBES:
        assert got[i] == oracle_nearest(lon, lat, 1), (i, lon, lat)


# the value of probe 0's top-left bilinear tap in band 2: a nodata value
# that one probe certainly meets
_gx0, _gy0 = py_global_pixel(*PROBES[0][1:])
NODATA = py_pixel_value(math.floor(_gx0 - 0.5), math.floor(_gy0 - 0.5), 2)

# sampler name -> (call, value column, numpy oracle)
TAP_SAMPLERS = {
    "bilinear": (
        T.sample_bilinear, "bilinear_val",
        _tap_oracle((0, 1), _triangle, normalize=False),
    ),
    "cubic": (
        T.sample_cubic, "cubic_val",
        _tap_oracle((-1, 0, 1, 2), _catmull_rom, normalize=False),
    ),
    "cubicspline": (
        T.sample_cubicspline, "cubicspline_val",
        _tap_oracle((-1, 0, 1, 2), _bspline, normalize=True),
    ),
    "lanczos": (
        T.sample_lanczos, "lanczos_val",
        _tap_oracle(range(-2, 4), _lanczos3, normalize=True),
    ),
    "bilinear_nodata": (
        functools.partial(T.sample_bilinear_nodata, nodata=NODATA),
        "bilinear_val",
        _tap_oracle((0, 1), _triangle, normalize=True, nodata=NODATA),
    ),
}


@pytest.mark.parametrize("name", list(TAP_SAMPLERS))
def test_tap_sampler_matches_reference_kernel(spark, raster, probe_df, name):
    sample, col, oracle = TAP_SAMPLERS[name]
    got = {
        r["i"]: r[col]
        for r in sample(probe_df, raster, ZOOM, band=2, tile_size=TS).collect()
    }
    for i, lon, lat in PROBES:
        assert got[i] == pytest.approx(oracle(lon, lat, 2), rel=1e-12), (i, lon, lat)


NON_FINITE = [float("nan"), float("inf"), float("-inf"), None]


@pytest.mark.parametrize("name", ["nearest", *TAP_SAMPLERS])
def test_sampler_returns_null_for_non_finite_coordinates(spark, raster, name):
    """NULL, NaN or ±inf in lon or lat gives a NULL value and keeps the
    point's row; a clamp must never turn a bad index into a real pixel."""
    if name == "nearest":
        sample, col = T.sample_nearest, "nearest_val"
    else:
        sample, col, _ = TAP_SAMPLERS[name]
    rows = [(0, 2.35, 48.85)]
    rows += [(1 + k, v, 10.0) for k, v in enumerate(NON_FINITE)]
    rows += [(11 + k, 10.0, v) for k, v in enumerate(NON_FINITE)]
    pts = spark.createDataFrame(rows, "i long, lon double, lat double")
    got = {r["i"]: r[col] for r in sample(pts, raster, ZOOM, band=2, tile_size=TS).collect()}
    assert sorted(got) == [i for i, _, _ in rows]
    assert got[0] is not None
    assert {i: v for i, v in got.items() if i and v is not None} == {}


def test_nearest_differs_from_bilinear_somewhere(spark, raster, probe_df):
    near = T.sample_nearest(probe_df, raster, ZOOM, band=1, tile_size=TS)
    bil = T.sample_bilinear(probe_df, raster, ZOOM, band=1, tile_size=TS)
    merged = near.join(bil, "i")
    diffs = merged.filter(
        F.abs(F.col("nearest_val") - F.col("bilinear_val")) > 1e-9
    ).count()
    assert diffs > 0  # checkerboard-ish field guarantees they differ


def test_overview_level_average(spark, raster):
    parents = T.overview_level(raster.filter(F.col("band") == 1), TS)
    row = parents.filter((F.col("tx") == 1) & (F.col("ty") == 1)).first()
    assert row["zoom"] == ZOOM - 1
    got = np.asarray(row["data"]).reshape(TS, TS)
    # oracle: assemble the 4 children at z=ZOOM from closed form and reduce
    full = np.zeros((2 * TS, 2 * TS))
    yy, xx = np.mgrid[0:TS, 0:TS]
    for cy in (2, 3):
        for cx in (2, 3):
            gpx = cx * TS + xx
            gpy = cy * TS + yy
            full[(cy - 2) * TS:(cy - 1) * TS, (cx - 2) * TS:(cx - 1) * TS] = (
                T.pixel_value(gpx, gpy, 1)
            )
    expected = full.reshape(TS, 2, TS, 2).mean(axis=(1, 3))
    np.testing.assert_allclose(got, expected, rtol=1e-13)


def test_overview_pyramid_levels(spark, raster):
    pyr = T.overview_pyramid(raster.filter(F.col("band") == 1), min_zoom=1, tile_size=TS)
    counts = {r["zoom"]: r["count"] for r in pyr.groupBy("zoom").count().collect()}
    assert counts == {3: 64, 2: 16, 1: 4}


def test_render_base_average_equals_two_overview_steps(spark):
    """Integer-ratio average render must equal chaining 2×2 overview levels
    (the render is the one-shot gdal2tiles path; overview_level is the
    pyramid path — same kernel semantics, different plans)."""
    from gdal_spark.operators import tiles as TL

    base = TL.synthetic_raster(spark, zoom=2, bands=1, tile_size=32)
    rendered = {
        (r["tx"], r["ty"]): list(r["data"])
        for r in TL.render_base_tiles(base, 2, 0, "average", 32).collect()
    }
    stepped_df = TL.overview_level(
        TL.overview_level(base, 32), 32
    )
    stepped = {
        (r["tx"], r["ty"]): list(r["data"]) for r in stepped_df.collect()
    }
    assert set(rendered) == set(stepped)
    for k in rendered:
        assert rendered[k] == pytest.approx(stepped[k])


def test_render_base_nearest_decimation(spark):
    """Nearest render: dst pixel (i, j) = src global pixel (r*i, r*j)."""
    from gdal_spark.operators import tiles as TL

    base = TL.synthetic_raster(spark, zoom=2, bands=1, tile_size=32)
    out = TL.render_base_tiles(base, 2, 0, "nearest", 32).collect()
    assert len(out) == 1
    data = np.asarray(out[0]["data"]).reshape(32, 32)
    for i, j in [(0, 0), (5, 7), (31, 31)]:
        assert data[j, i] == TL.pixel_value(
            np.array([4 * i]), np.array([4 * j]), 1
        )[0]


def _mode(v):
    """Most frequent value; ties -> the smallest."""
    vals, counts = np.unique(v, return_counts=True)
    return vals[counts.argmax()]


def test_overview_stat_kernels_vs_numpy(spark):
    """Every overview kernel vs a direct numpy reduction of the same
    synthetic base."""
    from gdal_spark.operators import tiles as TL

    base = TL.synthetic_raster(spark, zoom=1, bands=1, tile_size=16)
    yy, xx = np.mgrid[0:32, 0:32]
    world = TL.pixel_value(xx, yy, 1)
    blocks = world.reshape(16, 2, 16, 2).transpose(0, 2, 1, 3).reshape(16, 16, 4)
    expected = {
        "average": blocks.mean(-1), "nearest": world[::2, ::2],
        "rms": np.sqrt((blocks ** 2).mean(-1)),
        "mode": np.apply_along_axis(_mode, -1, blocks),
        "median": np.median(blocks, -1),
        "min": blocks.min(-1), "max": blocks.max(-1), "sum": blocks.sum(-1),
        "q1": np.quantile(blocks, 0.25, axis=-1),
        "q3": np.quantile(blocks, 0.75, axis=-1),
    }
    for stat, want in expected.items():
        out = TL.overview_level(base, 16, stat).collect()
        assert len(out) == 1
        got = np.asarray(out[0]["data"]).reshape(16, 16)
        assert np.allclose(got, want), stat


def test_lanczos_renormalizes_over_missing_tiles(spark):
    """Regression (round-2 code review): lanczos taps landing on MISSING
    tiles must renormalize over valid taps, not scale the value down.
    With a constant-value raster the sample must equal that constant even
    at the edge of coverage."""
    from pyspark.sql import functions as F

    from gdal_spark.operators import tiles as TL

    # single z2 tile at (1,1), constant value 7
    base = TL.synthetic_raster(spark, zoom=2, bands=1, tile_size=16,
                               tx_range=(1, 1), ty_range=(1, 1))
    const = base.withColumn(
        "data", F.transform("data", lambda v: F.lit(7.0))
    )
    # a point near the tile's top-left corner: part of the 6x6 tap window
    # falls on missing neighbor tiles
    import numpy as np

    from gdal_spark.spatial import tilemath as TM

    res = TM.resolution(2) * 256 / 16  # meters per pixel at ts=16
    # global pixel (16.6, 16.6) → inside tile (1,1) near its corner
    mx = (16.6) * (2 * TM.ORIGIN_SHIFT / (4 * 16)) - TM.ORIGIN_SHIFT
    my = TM.ORIGIN_SHIFT - (16.6) * (2 * TM.ORIGIN_SHIFT / (4 * 16))
    lon = mx / TM.ORIGIN_SHIFT * 180.0
    lat = 180.0 / np.pi * (
        2.0 * np.arctan(np.exp(my / TM.ORIGIN_SHIFT * np.pi)) - np.pi / 2.0
    )
    pts = spark.createDataFrame(
        [(1, float(lon), float(lat))], "i long, lon double, lat double"
    )
    out = TL.sample_lanczos(pts, const, zoom=2, tile_size=16).collect()
    assert out[0]["lanczos_val"] == pytest.approx(7.0, abs=1e-9)
