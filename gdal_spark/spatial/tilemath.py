"""WebMercator / XYZ-tile / quadkey math as pure Spark column expressions.

Exact formula parity with the reference implementation:
  * GlobalMercator in gdal2tiles.py:416-532 (LatLonToMeters, MetersToPixels,
    PixelsToTile, Resolution, GoogleTile y-flip, QuadTree)
  * tile-range epsilon floor((x - topLeft)/tileSpan + 1e-3) in
    apps/gdalalg_raster_tile.cpp:422-490 (GetTileIndices) and the XYZ/TMS
    y-flip at :496-500 (GetFileY)

Everything here is closed-form column math — no UDFs, fully inside
whole-stage codegen, and Catalyst can constant-fold / push the resulting
range predicates down to parquet scans.

A pure-Python mirror (``py_*`` functions) is provided for unit tests and for
generating DuckDB oracle SQL; both sides evaluate the identical formulas.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS = 6378137.0  # WGS84 spheroid major axis (gdal2tiles.py WKT)
TILE_SIZE = 256
ORIGIN_SHIFT = 2 * math.pi * EARTH_RADIUS / 2.0  # 20037508.342789244
INITIAL_RESOLUTION = 2 * math.pi * EARTH_RADIUS / TILE_SIZE  # 156543.03392804062
# WebMercator latitude domain (gdal2tiles.py:423-431 mercator validity)
MAX_LAT = 85.05112877980659
# Tile-range epsilon from gdalalg_raster_tile.cpp:446-465
TILE_EPSILON = 1e-3


# ---------------------------------------------------------------------------
# Column-expression forms (the engine path)
# ---------------------------------------------------------------------------

def resolution(zoom: int) -> float:
    """Meters/pixel at ``zoom`` (gdal2tiles.py:498-502)."""
    return INITIAL_RESOLUTION / (2 ** zoom)


def lonlat_to_meters(lon: Column, lat: Column) -> tuple[Column, Column]:
    """EPSG:4326 → EPSG:3857, exact LatLonToMeters (gdal2tiles.py:421-431)."""
    mx = lon * F.lit(ORIGIN_SHIFT / 180.0)
    my = (
        F.log(F.tan((F.lit(90.0) + lat) * F.lit(math.pi / 360.0)))
        / F.lit(math.pi / 180.0)
    ) * F.lit(ORIGIN_SHIFT / 180.0)
    return mx, my


def meters_to_lonlat(mx: Column, my: Column) -> tuple[Column, Column]:
    """EPSG:3857 → EPSG:4326, exact MetersToLatLon (gdal2tiles.py:433-443)."""
    lon = (mx / F.lit(ORIGIN_SHIFT)) * F.lit(180.0)
    lat_lin = (my / F.lit(ORIGIN_SHIFT)) * F.lit(180.0)
    lat = F.lit(180.0 / math.pi) * (
        F.lit(2.0) * F.atan(F.exp(lat_lin * F.lit(math.pi / 180.0)))
        - F.lit(math.pi / 2.0)
    )
    return lon, lat


def meters_to_pixels(mx: Column, my: Column, zoom: int) -> tuple[Column, Column]:
    """EPSG:3857 → global pixel coords at zoom (gdal2tiles.py:453-459)."""
    res = F.lit(resolution(zoom))
    return (mx + F.lit(ORIGIN_SHIFT)) / res, (my + F.lit(ORIGIN_SHIFT)) / res


def pixels_to_tile(px: Column, py: Column) -> tuple[Column, Column]:
    """Pixel → TMS tile: ceil(p/256)-1 (gdal2tiles.py:461-466)."""
    tx = (F.ceil(px / F.lit(float(TILE_SIZE))) - F.lit(1)).cast("int")
    ty = (F.ceil(py / F.lit(float(TILE_SIZE))) - F.lit(1)).cast("int")
    return tx, ty


def tms_to_xyz(ty_tms: Column, zoom: int) -> Column:
    """TMS → XYZ/Google y-flip: 2^z - 1 - ty (gdal2tiles.py:512-516,
    gdalalg_raster_tile.cpp:496-500)."""
    return (F.lit((1 << zoom) - 1) - ty_tms).cast("int")


def _tile_index(t: Column, ok: Column, zoom: int) -> Column:
    """``t`` clamped into ``[0, 2^z)`` where ``ok``, NULL elsewhere."""
    return F.when(ok, F.least(F.greatest(t, F.lit(0)), F.lit((1 << zoom) - 1)))


def lonlat_to_tile(lon: Column, lat: Column, zoom: int) -> tuple[Column, Column]:
    """lon/lat → XYZ (tx, ty) at zoom — the full chain, closed form.

    Total over the double domain, one axis at a time: a NULL, NaN or ±inf
    coordinate, a lon outside [-180, 180] or a lat outside [-90, 90] gives a
    NULL index on its axis (rejected, not wrapped: a lon of 190 is bad
    input, not 10° east of the antimeridian). lat is clamped to ±MAX_LAT,
    and both indices to ``[0, 2^z)``, so lon = -180 is column 0 and the
    poles are the first and last rows. Inside the domain nothing changes.
    """
    mx, my = lonlat_to_meters(
        lon, F.least(F.greatest(lat, F.lit(-MAX_LAT)), F.lit(MAX_LAT)))
    px, py = meters_to_pixels(mx, my, zoom)
    tx, ty_tms = pixels_to_tile(px, py)
    return (_tile_index(tx, lon.between(-180.0, 180.0), zoom),
            _tile_index(tms_to_xyz(ty_tms, zoom), lat.between(-90.0, 90.0), zoom))


# Four shift-or-mask steps move bit i of a 16-bit value to bit 4i.
_SPREAD = ((24, 0x000000FF000000FF), (12, 0x000F000F000F000F),
           (6, 0x0303030303030303), (3, 0x1111111111111111))


def _spread(x: Column) -> Column:
    for s, m in _SPREAD:
        x = x.bitwiseOR(F.shiftleft(x, s)).bitwiseAND(F.lit(m))
    return x


def _nibble_words(tx: Column, ty_xyz: Column, zoom: int) -> list[tuple[Column, int]]:
    """The quadkey as ``(word, digits)`` pairs, one ``long`` per 16 levels,
    most significant first. Digit i of a word (bit i of tx plus twice bit i
    of ty) is its hex nibble i, so for a fixed zoom the words' numeric order
    is the quadkey's string order."""
    tx, ty = tx.cast("long"), ty_xyz.cast("long")
    words = []
    for low in range((max(zoom, 1) - 1) // 16 * 16, -1, -16):
        n = min(16, zoom - low)
        mask = F.lit((1 << n) - 1)

        def bits(t: Column) -> Column:
            return _spread((F.shiftright(t, low) if low else t).bitwiseAND(mask))

        words.append((bits(tx).bitwiseOR(F.shiftleft(bits(ty), 1)), n))
    return words


def quadkey(tx: Column, ty_xyz: Column, zoom: int) -> Column:
    """Quadkey of an XYZ tile (gdal2tiles.py:518-532 QuadTree, which flips
    TMS→XYZ first — we take XYZ directly so no flip here).

    digit_i = bit(tx, i) + 2*bit(ty_xyz, i), emitted from the top bit down.
    The low 16 levels of tx and ty are spread so that bit i lands at bit 4i
    and interleaved into one "nibble word" (``_nibble_words``), which holds
    each base-4 digit in its own hex nibble: ``hex`` then prints the digits
    in order, and ``lpad`` restores the leading zeros. Zooms past 16 concat
    one word per 16 levels. That is a few dozen integer ops and two string
    ops per 16 levels, where a cast to string per digit plus a z-way concat
    cost three times as much (BENCH.md §24). It stays Catalyst column math
    inside codegen. ``zoom`` must be a literal, which it always is in tiling
    plans; a NULL index gives a NULL key.
    """
    if zoom == 0:
        return F.lit("")
    keys = [F.lpad(F.hex(w), n, "0") for w, n in _nibble_words(tx, ty_xyz, zoom)]
    return keys[0] if len(keys) == 1 else F.concat(*keys)


def tile_bounds_meters(tx: Column, ty_tms: Column, zoom: int) -> tuple[
    Column, Column, Column, Column
]:
    """TMS tile → EPSG:3857 bounds (gdal2tiles.py:480-487 TileBounds)."""
    res = F.lit(resolution(zoom))
    shift = F.lit(ORIGIN_SHIFT)
    minx = tx * F.lit(float(TILE_SIZE)) * res - shift
    miny = ty_tms * F.lit(float(TILE_SIZE)) * res - shift
    maxx = (tx + F.lit(1)) * F.lit(float(TILE_SIZE)) * res - shift
    maxy = (ty_tms + F.lit(1)) * F.lit(float(TILE_SIZE)) * res - shift
    return minx, miny, maxx, maxy


def extent_to_tile_index(coord_m: Column, top_left_m: Column, tile_span_m: Column,
                         flip: bool = False) -> Column:
    """Raster-extent → tile-matrix index with GDAL's 1e-3 epsilon:
    floor((x - topLeft)/tileSpan + 1e-3) (gdalalg_raster_tile.cpp:446-465).
    ``flip=True`` for the Y axis where the extent runs downward from topLeft.
    """
    delta = (top_left_m - coord_m) if flip else (coord_m - top_left_m)
    return F.floor(delta / tile_span_m + F.lit(TILE_EPSILON)).cast("int")


# ---------------------------------------------------------------------------
# Pure-Python mirrors (tests + DuckDB-oracle generation)
# ---------------------------------------------------------------------------

def py_lonlat_to_meters(lon: float, lat: float) -> tuple[float, float]:
    mx = lon * ORIGIN_SHIFT / 180.0
    my = (
        math.log(math.tan((90.0 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    ) * (ORIGIN_SHIFT / 180.0)
    return mx, my


def py_meters_to_pixels(mx: float, my: float, zoom: int) -> tuple[float, float]:
    res = resolution(zoom)
    return (mx + ORIGIN_SHIFT) / res, (my + ORIGIN_SHIFT) / res


def py_pixels_to_tile(px: float, py: float) -> tuple[int, int]:
    return (
        int(math.ceil(px / float(TILE_SIZE)) - 1),
        int(math.ceil(py / float(TILE_SIZE)) - 1),
    )


def py_lonlat_to_tile(lon: float | None, lat: float | None,
                     zoom: int) -> tuple[int | None, int | None]:
    """lon/lat → XYZ (tx, ty), with the domain rules of ``lonlat_to_tile``."""
    ok_lon = lon is not None and -180.0 <= lon <= 180.0
    ok_lat = lat is not None and -90.0 <= lat <= 90.0
    mx, my = py_lonlat_to_meters(lon if ok_lon else 0.0,
                                 min(max(lat, -MAX_LAT), MAX_LAT) if ok_lat else 0.0)
    px, py = py_meters_to_pixels(mx, my, zoom)
    tx, ty_tms = py_pixels_to_tile(px, py)
    n = 1 << zoom
    return (min(max(tx, 0), n - 1) if ok_lon else None,
            min(max(n - 1 - ty_tms, 0), n - 1) if ok_lat else None)


def py_quadkey(tx: int, ty_xyz: int, zoom: int) -> str:
    out = []
    for i in range(zoom, 0, -1):
        mask = 1 << (i - 1)
        digit = 0
        if tx & mask:
            digit += 1
        if ty_xyz & mask:
            digit += 2
        out.append(str(digit))
    return "".join(out)


def py_tile_bounds_meters(tx: int, ty_tms: int, zoom: int) -> tuple[
    float, float, float, float
]:
    res = resolution(zoom)
    return (
        tx * TILE_SIZE * res - ORIGIN_SHIFT,
        ty_tms * TILE_SIZE * res - ORIGIN_SHIFT,
        (tx + 1) * TILE_SIZE * res - ORIGIN_SHIFT,
        (ty_tms + 1) * TILE_SIZE * res - ORIGIN_SHIFT,
    )


# ---------------------------------------------------------------------------
# ANSI-SQL fragment generators (the same formulas as DuckDB-runnable SQL, used
# by __spark_entry__.oracle_sql so oracle and engine share one source of truth)
# ---------------------------------------------------------------------------

def sql_meters_x(lon_expr: str) -> str:
    return f"(({lon_expr}) * {ORIGIN_SHIFT!r} / 180.0)"


def sql_meters_y(lat_expr: str) -> str:
    return (
        f"(ln(tan((90.0 + ({lat_expr})) * pi() / 360.0)) / (pi() / 180.0)"
        f" * {ORIGIN_SHIFT!r} / 180.0)"
    )


def _sql_tile_index(t_expr: str, ok_expr: str, zoom: int) -> str:
    return (f"(case when {ok_expr} then least(greatest({t_expr}, 0), "
            f"{(1 << zoom) - 1}) end)")


def sql_tile_x(lon_expr: str, zoom: int) -> str:
    res = resolution(zoom)
    tx = (
        f"cast(ceil((({sql_meters_x(lon_expr)}) + {ORIGIN_SHIFT!r}) / {res!r}"
        f" / {float(TILE_SIZE)!r}) - 1 as int)"
    )
    return _sql_tile_index(tx, f"({lon_expr}) between -180.0 and 180.0", zoom)


def sql_tile_y_xyz(lat_expr: str, zoom: int) -> str:
    res = resolution(zoom)
    lat_c = f"least(greatest({lat_expr}, {-MAX_LAT!r}), {MAX_LAT!r})"
    ty_tms = (
        f"(ceil((({sql_meters_y(lat_c)}) + {ORIGIN_SHIFT!r}) / {res!r}"
        f" / {float(TILE_SIZE)!r}) - 1)"
    )
    return _sql_tile_index(f"cast({(1 << zoom) - 1} - {ty_tms} as int)",
                           f"({lat_expr}) between -90.0 and 90.0", zoom)


def sql_quadkey(tx_expr: str, ty_xyz_expr: str, zoom: int) -> str:
    """Quadkey as portable integer arithmetic (floor-div + mod, no bit ops)."""
    parts = []
    for i in range(zoom, 0, -1):
        shift = 1 << (i - 1)
        bit_x = f"(cast(floor(({tx_expr}) / {shift}) as int) % 2)"
        bit_y = f"(cast(floor(({ty_xyz_expr}) / {shift}) as int) % 2)"
        parts.append(f"cast({bit_x} + 2 * {bit_y} as varchar)")
    return "concat(" + ", ".join(parts) + ")"


# ---------------------------------------------------------------------------
# Hilbert curve index (alg/hilbert.cpp:22 hilbert_xy2d semantics; also the
# FlatGeobuf packed-R-tree sort key, ogr/ogrsf_frmts/flatgeobuf/
# packedrtree.cpp:73-132). xy2d with the standard rotate-and-flip recurrence,
# expressed iteratively so it runs as pure integer column math AND as a
# DuckDB SQL mirror (identical integer ops → identical codes).
# ---------------------------------------------------------------------------

def hilbert_d(tx: Column, ty: Column, order: int) -> Column:
    """Hilbert distance of cell (tx, ty) on a 2^order x 2^order grid.

    Implemented as ONE vectorized numpy kernel per Arrow batch: the naive
    column form doubles the expression tree per level (x and y each feed
    the next level's x, y, d) -- Catalyst inlines projections, so an
    8-level unroll explodes to ~4^8 nodes and stalls analysis. Integer
    arithmetic is engine-exact, so the SQL mirror (CTE chain) stays
    bit-identical.
    """
    from pyspark.sql import functions as _F

    def _kernel(xs: pd.Series, ys: pd.Series) -> pd.Series:
        import numpy as np

        x = xs.to_numpy(dtype=np.int64).copy()
        y = ys.to_numpy(dtype=np.int64).copy()
        d = np.zeros_like(x)
        s = 1 << (order - 1)
        while s > 0:
            rx = ((x & s) > 0).astype(np.int64)
            ry = ((y & s) > 0).astype(np.int64)
            d += s * s * ((3 * rx) ^ ry)
            swap = ry == 0
            flip = swap & (rx == 1)
            nx = np.where(swap, np.where(flip, s - 1 - y, y), x)
            ny = np.where(swap, np.where(flip, s - 1 - x, x), y)
            x, y = nx, ny
            s >>= 1
        return pd.Series(d)

    kernel = _F.pandas_udf(_kernel, "long")
    return kernel(tx.cast("long"), ty.cast("long"))


def py_hilbert_d(tx: int, ty: int, order: int) -> int:
    x, y, d = tx, ty, 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - y, s - 1 - x
            else:
                x, y = y, x
        s >>= 1
    return d


def sql_hilbert_d(tx_expr: str, ty_expr: str, order: int) -> str:
    """DuckDB mirror via a recursive-free unrolled CASE chain (x/y updated
    per level with nested subqueries is unwieldy — instead emit a single
    scalar expression built level-by-level with lateral-style aliases)."""
    # Build as nested SELECT chain: each level consumes (x, y, d).
    inner = f"SELECT ({tx_expr})::bigint AS x, ({ty_expr})::bigint AS y, 0::bigint AS d"
    s = 1 << (order - 1)
    while s > 0:
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        nd = f"d + {s}::bigint * {s}::bigint * xor(3 * {rx}, {ry})"
        nx = f"(CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {s - 1} - y ELSE y END) ELSE x END)"
        ny = f"(CASE WHEN {ry} = 0 THEN (CASE WHEN {rx} = 1 THEN {s - 1} - x ELSE x END) ELSE y END)"
        inner = f"SELECT {nx} AS x, {ny} AS y, {nd} AS d FROM ({inner})"
        s >>= 1
    return f"(SELECT d FROM ({inner}))"

