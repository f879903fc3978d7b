"""Raster↔vector operators over a tile DataFrame.

The raster model (SURVEY.md §1.2): a raster is a DataFrame of tiles
``(zoom, tx, ty, band, data, width, height)`` — GDAL's block cache
(gcore/gdalrasterblock.h) turned into rows, on the WebMercatorQuad tile
matrix (gcore/tilematrixset.cpp; default of `gdal raster tile`,
apps/gdalalg_raster_tile.cpp:191-210). XYZ convention: ty increases
southward, global pixel (0,0) at the north-west corner.

Operators:

* ``assign_tiles``       — lon/lat → (tx, ty, quadkey) columns (the
                           raster↔vector tile-assignment join key;
                           gdalalg_raster_tile.cpp:422-500 semantics).
* ``synthetic_raster``   — deterministic world-grid raster where pixel value
                           = f(global_px, global_py, band) in closed form, so
                           sampling oracles are computable without the table.
* ``sample_nearest``     — warp-nearest: iSrc = int(dfSrc + 1e-10)
                           (gdalwarpkernel.cpp:5228-5330).
* ``sample_bilinear`` / ``_cubic`` / ``_cubicspline`` / ``_lanczos`` /
  ``_bilinear_nodata``   — the warp filter menu (gdalwarpkernel.cpp:104-126).
* ``overview_level``     — one pyramid step z → z-1 with any overview kernel
                           (overview.cpp:464-1214); ``overview_pyramid``
                           chains the steps down to a min zoom.
* ``render_base_tiles``  — z_dst tiles from a finer z_src source in one step
                           (gdal2tiles create_base_tile).

Two private kernels carry them all:

* ``_sample_taps`` + ``_lookup`` — the tap kernel (GDAL's GWKResample):
  explode each point to its (pixel, weight) taps, edge-clamp, equi-join on
  the tile key and ``element_at`` the data array. Column math only, no UDF;
  the join broadcasts a small raster or shuffles on (tx, ty). A sampler is
  its tap offsets, its weight function and one aggregate: Σw·v, or Σw·v/Σw
  over valid taps. A NULL, NaN or ±inf coordinate samples NULL.
* ``_window_reduce`` — the window reducer (GDAL's RegenerateOverviews): one
  shuffle groups the r×r child tiles under each parent tile, a pandas UDF
  fills the window (missing children are 0) and applies one numpy kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.spatial import tilemath as TM

NEAREST_EPS = 1e-10  # gdalwarpkernel.cpp:5228  int(dfSrc + 1e-10)
TILE_SCHEMA = (
    "zoom int, tx int, ty int, band int, data array<double>, "
    "width int, height int"
)


def assign_tiles(
    df: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat",
    with_quadkey: bool = True,
) -> DataFrame:
    """Add (tx, ty, quadkey) XYZ tile-assignment columns at ``zoom``."""
    tx, ty = TM.lonlat_to_tile(F.col(lon), F.col(lat), zoom)
    out = df.withColumn("tx", tx).withColumn("ty", ty)
    if with_quadkey:
        out = out.withColumn("quadkey", TM.quadkey(F.col("tx"), F.col("ty"), zoom))
    return out


# ---------------------------------------------------------------------------
# Synthetic world raster (deterministic; closed-form pixel values)
# ---------------------------------------------------------------------------

def pixel_value(gpx, gpy, band):
    """Closed-form pixel value — integer math, exactly reproducible in SQL:
    ((gpx*31 + gpy*17 + band*7) % 256) as double. Gradient + wraparound so
    nearest vs bilinear differ measurably (FIXTURES.md §4)."""
    return ((gpx * 31 + gpy * 17 + band * 7) % 256).astype(np.float64)


def sql_pixel_value(gpx_expr: str, gpy_expr: str, band_expr: str) -> str:
    return (
        f"cast((({gpx_expr}) * 31 + ({gpy_expr}) * 17 + ({band_expr}) * 7) % 256"
        f" as double)"
    )


def synthetic_raster(
    spark, zoom: int, bands: int = 3, tile_size: int = 256,
    tx_range: tuple[int, int] | None = None,
    ty_range: tuple[int, int] | None = None,
) -> DataFrame:
    """World-grid raster at ``zoom``; optionally windowed to a tile range.

    Distributed generation: one row per (tile, band), data filled by a
    vectorized kernel over global pixel indices.
    """
    n = 1 << zoom
    tx0, tx1 = tx_range or (0, n - 1)
    ty0, ty1 = ty_range or (0, n - 1)
    ntx = tx1 - tx0 + 1
    nty = ty1 - ty0 + 1
    ids = spark.range(ntx * nty * bands)
    base = ids.select(
        (F.lit(tx0) + (F.col("id") % ntx)).cast("int").alias("tx"),
        (F.lit(ty0) + F.floor(F.col("id") / ntx) % nty).cast("int").alias("ty"),
        (F.floor(F.col("id") / (ntx * nty)) + 1).cast("int").alias("band"),
    )

    def fill(batches):
        yy, xx = np.mgrid[0:tile_size, 0:tile_size]
        for pdf in batches:
            data = []
            for tx, ty, band in zip(pdf["tx"], pdf["ty"], pdf["band"]):
                gpx = tx * tile_size + xx
                gpy = ty * tile_size + yy
                data.append(pixel_value(gpx, gpy, int(band)).ravel())
            out = pdf.copy()
            out["zoom"] = zoom
            out["width"] = tile_size
            out["height"] = tile_size
            out["data"] = data
            yield out[["zoom", "tx", "ty", "band", "data", "width", "height"]]

    return base.mapInPandas(fill, TILE_SCHEMA)


# ---------------------------------------------------------------------------
# Point sampling — the tap kernel (join + column math, no UDF)
# ---------------------------------------------------------------------------

def _global_pixel_cols(lon: str, lat: str, zoom: int, tile_size: int):
    """Continuous global pixel coords with origin at the NW corner (XYZ
    raster convention: gy grows southward — gdal2tiles PixelsToRaster flip),
    and whether the point's lon and lat are both finite."""
    mx, my = TM.lonlat_to_meters(F.col(lon), F.col(lat))
    res = F.lit(2 * TM.ORIGIN_SHIFT / ((1 << zoom) * tile_size))
    gx = (mx + F.lit(TM.ORIGIN_SHIFT)) / res
    gy = (F.lit(TM.ORIGIN_SHIFT) - my) / res
    # NULL < inf is NULL and Spark orders NaN above inf, so both fail
    finite = (F.abs(F.col(lon)) < F.lit(np.inf)) & (F.abs(F.col(lat)) < F.lit(np.inf))
    return gx, gy, finite


def _lookup(req: DataFrame, raster: DataFrame, zoom: int, band: int, tile_size: int):
    """Value ``_v`` of each pixel request ``(_gx, _gy, _ok)``: the global
    index is clamped to the grid, then the tile-key left join and
    ``element_at`` read the pixel. ``_v`` is NULL where the tile is missing
    or ``_ok`` is not true — a clamp alone would turn the NULL or NaN index
    of a non-finite point into a real pixel."""
    max_px = (1 << zoom) * tile_size - 1
    gx, gy = (
        F.when(F.col("_ok"), F.least(F.lit(max_px), F.greatest(F.lit(0), F.col(c))))
        for c in ("_gx", "_gy")
    )
    req = req.withColumns({
        "tx": (gx / tile_size).cast("int"),
        "ty": (gy / tile_size).cast("int"),
        "_px": (gx % tile_size).cast("int"),
        "_py": (gy % tile_size).cast("int"),
    })
    r = raster.filter((F.col("zoom") == zoom) & (F.col("band") == band))
    joined = req.join(r, on=["tx", "ty"], how="left")
    idx = (F.col("_py") * F.col("width") + F.col("_px") + 1).cast("int")
    return joined.withColumn("_v", F.element_at(F.col("data"), idx))


def _sample_taps(
    points: DataFrame, raster: DataFrame, zoom: int, band: int, point_id: str,
    lon: str, lat: str, tile_size: int, offsets, weight,
) -> DataFrame:
    """The tap kernel: one row per (point, tap) with the tap's weight ``_w``
    and value ``_v``. Taps sit at ``offsets`` (both axes) around
    i0 = floor(dfSrc - 0.5); a tap's weight is ``weight(f, dx) *
    weight(f, dy)``, f = dfSrc - 0.5 - i0 on each axis (GWKResample's
    separable filter). Indices are edge-clamped, so the weight mass stays on
    the grid."""
    gx, gy, finite = _global_pixel_cols(lon, lat, zoom, tile_size)
    ix0 = F.floor(gx - F.lit(0.5)).cast("long")
    iy0 = F.floor(gy - F.lit(0.5)).cast("long")
    base = points.select(
        F.col(point_id), finite.alias("_ok"),
        ix0.alias("_ix0"), iy0.alias("_iy0"),
        (gx - F.lit(0.5) - ix0).alias("_fx"), (gy - F.lit(0.5) - iy0).alias("_fy"),
    )
    taps = F.array(*(
        F.struct(
            F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
            (weight(F.col("_fx"), dx) * weight(F.col("_fy"), dy)).alias("w"),
        )
        for dy in offsets for dx in offsets
    ))
    req = base.select(
        F.col(point_id), "_ok", "_ix0", "_iy0", F.explode(taps).alias("t"),
    ).select(
        F.col(point_id), "_ok",
        (F.col("_ix0") + F.col("t.dx")).alias("_gx"),
        (F.col("_iy0") + F.col("t.dy")).alias("_gy"),
        F.col("t.w").alias("_w"),
    )
    return _lookup(req, raster, zoom, band, tile_size)


def _weighted_sum(taps: DataFrame, point_id: str, value_name: str) -> DataFrame:
    """Σ w·v per point; taps on missing tiles drop out of the sum."""
    return taps.groupBy(point_id).agg(F.sum(F.col("_w") * F.col("_v")).alias(value_name))


def _normalized_sum(taps: DataFrame, point_id: str, value_name: str, valid) -> DataFrame:
    """Σ w·v / Σ w over the ``valid`` taps per point (GWKResample
    accumulates weight only for valid samples); NULL when Σ w is 0."""
    wv = F.when(valid, F.col("_w")).otherwise(F.lit(0.0))
    return taps.groupBy(point_id).agg(
        (
            F.sum(F.when(valid, F.col("_w") * F.col("_v")).otherwise(F.lit(0.0)))
            / F.when(F.sum(wv) != 0, F.sum(wv))
        ).alias(value_name)
    )


def _bilinear_weight(f, tap):
    return F.lit(1.0) - f if tap == 0 else f


def _cubic_weight(f, tap):
    """Catmull-Rom (A=-0.5) — the gdalwarp cubic (GWKCubic):
      |x|<1: (A+2)|x|^3 - (A+3)|x|^2 + 1
      1≤|x|<2: A(|x|^3 - 5|x|^2 + 8|x| - 4)
    """
    A = -0.5
    ax = F.abs(f - F.lit(float(tap)))
    w_inner = (F.lit(A + 2) * ax - F.lit(A + 3)) * ax * ax + F.lit(1.0)
    w_outer = F.lit(A) * (((ax - F.lit(5.0)) * ax + F.lit(8.0)) * ax - F.lit(4.0))
    return F.when(ax < 1.0, w_inner).otherwise(
        F.when(ax < 2.0, w_outer).otherwise(F.lit(0.0))
    )


def _bspline_weight(f, tap):
    """Cubic B-spline (GWKBSpline), even basis B(t) = 4 - 6t² + 3t³ (t<1),
    (2-t)³ (1≤t<2): GDAL's positive-part cascade ×6; the constant cancels
    in the weight normalization."""
    ax = F.abs(f - F.lit(float(tap)))
    return (
        F.when(ax < F.lit(1.0),
               F.lit(4.0) - F.lit(6.0) * ax * ax + F.lit(3.0) * ax * ax * ax)
        .when(ax < F.lit(2.0),
              (F.lit(2.0) - ax) * (F.lit(2.0) - ax) * (F.lit(2.0) - ax))
        .otherwise(F.lit(0.0))
    )


def _lanczos_weight(f, tap):
    """Lanczos windowed sinc, a=3 (GWKLanczosSinc)."""
    a, pi = 3.0, float(np.pi)
    x = f - F.lit(float(tap))
    sinc2 = (
        F.lit(a) * F.sin(F.lit(pi) * x) * F.sin(F.lit(pi) * x / F.lit(a))
        / (F.lit(pi * pi) * x * x)
    )
    return F.when(F.abs(x) < F.lit(1e-12), F.lit(1.0)).otherwise(sinc2)


def sample_nearest(
    points: DataFrame, raster: DataFrame, zoom: int, band: int = 1,
    point_id: str = "i", lon: str = "lon", lat: str = "lat",
    tile_size: int = 256, value_name: str = "nearest_val",
) -> DataFrame:
    """Warp-nearest sampling: iSrc = int(dfSrc + 1e-10), clamped to the grid
    (gdalwarpkernel.cpp:5228-5330). Output: point_id + sampled value."""
    gx, gy, finite = _global_pixel_cols(lon, lat, zoom, tile_size)
    req = points.select(
        F.col(point_id), finite.alias("_ok"),
        F.floor(gx + F.lit(NEAREST_EPS)).alias("_gx"),
        F.floor(gy + F.lit(NEAREST_EPS)).alias("_gy"),
    )
    joined = _lookup(req, raster, zoom, band, tile_size)
    return joined.select(F.col(point_id), F.col("_v").alias(value_name))


def sample_bilinear(
    points: DataFrame, raster: DataFrame, zoom: int, band: int = 1,
    point_id: str = "i", lon: str = "lon", lat: str = "lat",
    tile_size: int = 256, value_name: str = "bilinear_val",
) -> DataFrame:
    """Warp-bilinear sampling (gdalwarpkernel.cpp:2952-3010): 2×2 taps at
    offsets 0..1 with weights 1-f and f, value Σ w·v."""
    taps = _sample_taps(points, raster, zoom, band, point_id, lon, lat,
                        tile_size, (0, 1), _bilinear_weight)
    return _weighted_sum(taps, point_id, value_name)


def sample_cubic(
    points: DataFrame, raster: DataFrame, zoom: int, band: int = 1,
    point_id: str = "i", lon: str = "lon", lat: str = "lat",
    tile_size: int = 256, value_name: str = "cubic_val",
) -> DataFrame:
    """Warp-cubic sampling (Catmull-Rom A=-0.5, GWKCubic): 4×4 taps at
    offsets -1..2, value Σ w·v."""
    taps = _sample_taps(points, raster, zoom, band, point_id, lon, lat,
                        tile_size, (-1, 0, 1, 2), _cubic_weight)
    return _weighted_sum(taps, point_id, value_name)


def sample_cubicspline(
    points: DataFrame, raster: DataFrame, zoom: int, band: int = 1,
    point_id: str = "i", lon: str = "lon", lat: str = "lat",
    tile_size: int = 256, value_name: str = "cubicspline_val",
) -> DataFrame:
    """Warp-cubicspline sampling (cubic B-spline, GWKBSpline): 4×4 taps at
    offsets -1..2, value Σ w·v / Σ w over taps on present tiles, so
    edge-clamped duplicate taps renormalize identically cross-engine."""
    taps = _sample_taps(points, raster, zoom, band, point_id, lon, lat,
                        tile_size, (-1, 0, 1, 2), _bspline_weight)
    return _normalized_sum(taps, point_id, value_name, F.col("_v").isNotNull())


def sample_lanczos(
    points: DataFrame, raster: DataFrame, zoom: int, band: int = 1,
    point_id: str = "i", lon: str = "lon", lat: str = "lat",
    tile_size: int = 256, value_name: str = "lanczos_val",
) -> DataFrame:
    """Warp-lanczos sampling (GWKLanczosSinc, a=3): 6×6 taps at offsets
    -2..3, value Σ w·v / Σ w over taps on present tiles — a missing source
    tile renormalizes the remaining weights instead of scaling the value
    down."""
    taps = _sample_taps(points, raster, zoom, band, point_id, lon, lat,
                        tile_size, range(-2, 4), _lanczos_weight)
    return _normalized_sum(taps, point_id, value_name, F.col("_v").isNotNull())


def sample_bilinear_nodata(
    points: DataFrame, raster: DataFrame, zoom: int, nodata: float,
    band: int = 1, point_id: str = "i", lon: str = "lon", lat: str = "lat",
    tile_size: int = 256, value_name: str = "bilinear_val",
) -> DataFrame:
    """Warp-bilinear with NODATA masking (GWKBilinear + the validity mask):
    taps whose value equals ``nodata`` (or whose tile is missing) are
    excluded and the remaining weights renormalize; a point whose 4 taps
    are all excluded yields NULL."""
    taps = _sample_taps(points, raster, zoom, band, point_id, lon, lat,
                        tile_size, (0, 1), _bilinear_weight)
    return _normalized_sum(taps, point_id, value_name, F.col("_v") != F.lit(float(nodata)))


# ---------------------------------------------------------------------------
# Overview pyramid and base-tile render — the window reducer
# ---------------------------------------------------------------------------

# overview.cpp:464-1074 kernel set beyond average/nearest (gdalwarper.h:37-67)
OVERVIEW_STATS = ("rms", "mode", "min", "max", "median", "sum", "q1", "q3")


def _block_reduce(full: np.ndarray, ts: int, stat: str) -> np.ndarray:
    b = full.reshape(ts, 2, ts, 2).transpose(0, 2, 1, 3).reshape(ts, ts, 4)
    if stat == "rms":  # overview.cpp RMS (round 2 of GDAL 3.3 menu)
        return np.sqrt((b * b).mean(axis=-1))
    if stat == "mode":
        # most frequent value; ties -> smallest (deterministic, documented)
        mult = (b[..., None, :] == b[..., :, None]).sum(axis=-1)
        mx = mult.max(axis=-1, keepdims=True)
        cand = np.where(mult == mx, b, np.inf)
        return cand.min(axis=-1)
    if stat == "min":
        return b.min(axis=-1)
    if stat == "max":
        return b.max(axis=-1)
    if stat == "sum":
        return b.sum(axis=-1)
    s = np.sort(b, axis=-1)
    if stat == "median":  # average of the two middle elements (n=4)
        return (s[..., 1] + s[..., 2]) / 2.0
    if stat == "q1":  # linear-interpolation quantile (numpy convention)
        return s[..., 0] + 0.75 * (s[..., 1] - s[..., 0])
    if stat == "q3":
        return s[..., 2] + 0.25 * (s[..., 3] - s[..., 2])
    raise ValueError(f"unknown overview stat {stat!r}")


def _reduce_window(full: np.ndarray, r: int, ts: int, kernel: str) -> np.ndarray:
    """Scale an (r·ts)² window to ts²:
      average : r×r block mean            (overview.cpp:1214 Average)
      nearest : src = dst·r decimation    (overview.cpp:81-165 near,
                                           top-left sample of each block)
      bilinear: warp-bilinear at dst pixel centres
                (gdalwarpkernel.cpp:2952-3010, edge-clamped)
      else    : a 2×2 OVERVIEW_STATS kernel."""
    if kernel == "average":
        return full.reshape(ts, r, ts, r).mean(axis=(1, 3))
    if kernel == "nearest":
        return full[::r, ::r]
    if kernel == "bilinear":
        # src coord of dst centre i: (i + 0.5) * r; i0 = floor(src - 0.5),
        # weight = src - 0.5 - i0
        src = (np.arange(ts, dtype=np.float64) + 0.5) * r
        i0 = np.floor(src - 0.5).astype(np.int64)
        w = src - 0.5 - i0
        i0c = np.clip(i0, 0, r * ts - 1)
        i1c = np.clip(i0 + 1, 0, r * ts - 1)
        a = full[np.ix_(i0c, i0c)]
        b = full[np.ix_(i0c, i1c)]
        c = full[np.ix_(i1c, i0c)]
        d = full[np.ix_(i1c, i1c)]
        wy = w[:, None]
        wx = w[None, :]
        return (
            a * (1 - wy) * (1 - wx) + b * (1 - wy) * wx
            + c * wy * (1 - wx) + d * wy * wx
        )
    return _block_reduce(full, ts, kernel)


def _window_reduce(raster: DataFrame, r: int, tile_size: int, kernel: str) -> DataFrame:
    """The window reducer: each zoom-z group of r×r child tiles (r a power
    of two) becomes one tile at z - log2(r). One shuffle on the parent key,
    then a pandas UDF per group fills the (r·ts)² window — a missing child
    contributes 0 (dense synthetic rasters ⇒ only at windowed edges) — and
    ``_reduce_window`` scales it (GDALRegenerateOverviewsEx,
    gcore/overview.cpp:1214-1945; gdal2tiles.py:1466-1530)."""
    ts = tile_size
    dz = r.bit_length() - 1

    def reduce_group(key, pdf):
        zoom, ptx, pty, band = key
        full = np.zeros((r * ts, r * ts), dtype=np.float64)
        for tx, ty, data in zip(pdf["tx"], pdf["ty"], pdf["data"]):
            ox = int(tx) % r * ts
            oy = int(ty) % r * ts
            full[oy:oy + ts, ox:ox + ts] = np.asarray(data).reshape(ts, ts)
        out = _reduce_window(full, r, ts, kernel)
        return pd.DataFrame(
            {
                "zoom": [zoom - dz], "tx": [ptx], "ty": [pty], "band": [band],
                "data": [out.ravel()], "width": [ts], "height": [ts],
            }
        )

    keyed = raster.groupBy(
        F.col("zoom"),
        F.floor(F.col("tx") / r).cast("int").alias("ptx"),
        F.floor(F.col("ty") / r).cast("int").alias("pty"),
        F.col("band"),
    )
    return keyed.applyInPandas(reduce_group, TILE_SCHEMA)


def overview_level(raster: DataFrame, tile_size: int, stat: str = "average") -> DataFrame:
    """One pyramid step: tiles at z → tiles at z-1 over 2×2 children, with
    ``stat`` "average", "nearest" (dst pixel (i, j) samples src (2i, 2j))
    or any kernel of OVERVIEW_STATS."""
    if stat not in ("average", "nearest", *OVERVIEW_STATS):
        raise ValueError(f"unknown overview stat {stat!r}")
    return _window_reduce(raster, 2, tile_size, stat)


def overview_pyramid(raster: DataFrame, min_zoom: int, tile_size: int) -> DataFrame:
    """Full pyramid: union of all levels from the base down to ``min_zoom``.
    Iterative tree-aggregation — each level is one shuffle on the parent key."""
    levels = [raster]
    cur = raster
    base_zoom = cur.select(F.max("zoom")).first()[0]
    for _ in range(int(base_zoom) - min_zoom):
        cur = overview_level(cur, tile_size).localCheckpoint(eager=False)
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def render_base_tiles(
    raster: DataFrame, z_src: int, z_dst: int, method: str = "average",
    tile_size: int = 256,
) -> DataFrame:
    """Render z_dst tiles from the z_src source in one step — the gdal2tiles
    create_base_tile + scale_query_to_tile path (gdal2tiles.py:838-928,
    :1278+). For r = 2^(z_src - z_dst) the source window of dst tile
    (tx, ty) is exactly the r×r block of source tiles under it: ONE shuffle
    gathers it and ``method`` ("average", "nearest" or "bilinear") scales
    it to tile_size²."""
    if method not in ("average", "nearest", "bilinear"):
        raise ValueError(f"unsupported resampling {method!r}")
    src = raster.filter(F.col("zoom") == z_src)
    return _window_reduce(src, 1 << (z_src - z_dst), tile_size, method)
