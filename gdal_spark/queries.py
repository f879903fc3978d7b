"""Query registry: every implemented operator as a (Spark callable, DuckDB
oracle SQL) pair — the driver-gate surface of the engine.

Each entry:
  * a callable ``(spark, sf_dir) -> DataFrame`` running the ENGINE path
    (the operators in gdal_spark.operators / spatial / streaming), and
  * an ANSI-SQL oracle string evaluating the SAME semantics in DuckDB over
    the same parquet tables (pre-registered views: region nation customer
    supplier part orders lineitem events documents embeddings).

Column names are aligned on both sides (the driver sorts columns by name and
hashes values). Floating outputs are rounded identically on both sides; all
hashing is md5-based so Spark and DuckDB agree bit-for-bit.

Geotags: the sf tables carry no coordinates; (lon, lat) are DERIVED from the
dense integer key (o_orderkey / event_id) by the deterministic rule in
data/geotag.py — both engine and oracle compute it from the same closed
form, mirroring the north rule's url-hash geotagging.

The polygon dimension is the deterministic in-code layer of
data/pages.polygon_records(); oracles inline it as VALUES (points/segments),
so the PIP oracle is a *from-first-principles* SQL crossing-number test —
an independent implementation of ogrlinearring.cpp:452-521 semantics.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.data.geotag import derived_lat, derived_lon, sql_lat, sql_lon
from gdal_spark.functions import sql_stable_round as SR
from gdal_spark.functions import stable_round as R
from gdal_spark.data.pages import polygon_records, polygons_df
from gdal_spark.operators import dedup as D
from gdal_spark.operators import knn as KNN
from gdal_spark.operators import multimodal as MM
from gdal_spark.operators import pip_join as PIP
from gdal_spark.operators import similarity as SIM
from gdal_spark.operators import text as T
from gdal_spark.operators import tiles as TL
from gdal_spark.spatial import geometry as G
from gdal_spark.spatial import tilemath as TM

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            raise ValueError(
                f"duplicate query registration: {name!r} "
                "(register() would silently shadow the earlier gate)"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# Point side: orders with derived geotags
# ---------------------------------------------------------------------------

def order_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        derived_lon(F.col("o_orderkey")).alias("lon"),
        derived_lat(F.col("o_orderkey")).alias("lat"),
    )


SQL_POINTS = (
    "SELECT o_orderkey, o_totalprice, "
    f"{sql_lon('o_orderkey')} AS lon, {sql_lat('o_orderkey')} AS lat "
    "FROM orders"
)


# ---------------------------------------------------------------------------
# Polygon oracle fragments (VALUES of ring segments; crossing-number in SQL)
# ---------------------------------------------------------------------------

def _segment_values() -> str:
    """All ring segments of the polygon layer as a VALUES list.

    Per the numpy kernel (spatial/geometry.py points_in_ring): segment i has
    cur = ring[i] (x1) and prev = ring[i-1] (x2); even-odd parity across ALL
    rings (exterior + holes) equals exterior-minus-holes for nested rings.
    """
    rows = []
    for rec in polygon_records():
        for ring in rec["rings"]:
            arr = np.asarray(ring, dtype=np.float64)
            for i in range(1, arr.shape[0]):
                px_, py_ = arr[i - 1]
                cx_, cy_ = arr[i]
                rows.append(
                    f"({rec['poly_id']}, {px_!r}::double, {py_!r}::double, "
                    f"{cx_!r}::double, {cy_!r}::double)"
                )
    return "VALUES " + ", ".join(rows)


def _poly_attr_values() -> str:
    rows = []
    for rec in polygon_records():
        rows.append(
            f"({rec['poly_id']}, {rec['eas_id']}, '{rec['prfedea']}', "
            f"{rec['area']!r}::double, {rec['xmin']!r}::double, "
            f"{rec['ymin']!r}::double, {rec['xmax']!r}::double, "
            f"{rec['ymax']!r}::double)"
        )
    return "VALUES " + ", ".join(rows)


def sql_pip_cte() -> str:
    """CTEs: pts (orders points), seg (ring segments), pip (first-match
    point→polygon assignment by SQL crossing-number, min poly_id)."""
    return f"""
WITH pts AS ({SQL_POINTS}),
seg(poly_id, x2a, y2a, x1a, y1a) AS ({_segment_values()}),
cross_counts AS (
  SELECT p.o_orderkey, s.poly_id,
         sum(CASE WHEN (((s.y1a - p.lat) > 0 AND (s.y2a - p.lat) <= 0)
                     OR ((s.y2a - p.lat) > 0 AND (s.y1a - p.lat) <= 0))
                  AND ((s.x1a - p.lon) * (s.y2a - p.lat)
                     - (s.x2a - p.lon) * (s.y1a - p.lat))
                      / ((s.y2a - p.lat) - (s.y1a - p.lat)) > 0
             THEN 1 ELSE 0 END) AS n_cross
  FROM pts p CROSS JOIN seg s
  GROUP BY p.o_orderkey, s.poly_id),
pip AS (
  SELECT o_orderkey, min(poly_id) AS poly_id
  FROM cross_counts WHERE n_cross % 2 = 1 GROUP BY o_orderkey)
"""


# ===========================================================================
# 1. Spatial core — tile assignment / PIP / kNN / raster sampling
# ===========================================================================

Z_ASSIGN = 12
Z_ROLLUP = 8


@register(
    "tile_assign",
    f"SELECT o_orderkey, {TM.sql_tile_x(sql_lon('o_orderkey'), Z_ASSIGN)} AS tx, "
    f"{TM.sql_tile_y_xyz(sql_lat('o_orderkey'), Z_ASSIGN)} AS ty, "
    f"{TM.sql_quadkey(TM.sql_tile_x(sql_lon('o_orderkey'), Z_ASSIGN), TM.sql_tile_y_xyz(sql_lat('o_orderkey'), Z_ASSIGN), Z_ASSIGN)} AS quadkey "
    "FROM orders",
)
def q_tile_assign(spark, sf_dir):
    """XYZ tile + quadkey assignment at z12 (gdal2tiles.py:445-532 parity)."""
    return TL.assign_tiles(order_points(spark, sf_dir), Z_ASSIGN).select(
        "o_orderkey", "tx", "ty", "quadkey"
    )


@register(
    "tile_rollup",
    f"""SELECT tx, ty, count(*) AS n_points, {SR('sum(o_totalprice)', 2)} AS sum_price
FROM (SELECT o_totalprice,
 {TM.sql_tile_x(sql_lon('o_orderkey'), Z_ROLLUP)} AS tx,
 {TM.sql_tile_y_xyz(sql_lat('o_orderkey'), Z_ROLLUP)} AS ty FROM orders)
GROUP BY tx, ty""",
)
def q_tile_rollup(spark, sf_dir):
    """Per-tile aggregation at z8 — the hypertable-rollup shape."""
    return (
        TL.assign_tiles(order_points(spark, sf_dir), Z_ROLLUP, with_quadkey=False)
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            R(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


_PIP_ORACLE = sql_pip_cte() + "SELECT o_orderkey, poly_id FROM pip"


@register("pip_broadcast", _PIP_ORACLE)
def q_pip_broadcast(spark, sf_dir):
    """Broadcast map-only PIP join, first-match (min poly_id) semantics."""
    return PIP.pip_join(
        order_points(spark, sf_dir), polygons_df(spark), first_match=True
    ).select("o_orderkey", "poly_id")


@register("pip_cells_salted", _PIP_ORACLE)
def q_pip_cells_salted(spark, sf_dir):
    """All-match ``pip_join``, then min(poly_id) per point as a group-by —
    the first-match rule computed in Spark rather than in the index probe.
    (The name is kept from the retired salted cell-key join; the broadcast
    join has no exchange, so no hot cell to salt.)"""
    out = PIP.pip_join(order_points(spark, sf_dir), polygons_df(spark))
    return out.groupBy("o_orderkey").agg(F.min("poly_id").alias("poly_id"))


@register(
    "pip_zonal_stats",
    sql_pip_cte()
    + f""", attrs(poly_id, eas_id, prfedea, area, xmin, ymin, xmax, ymax) AS ({_poly_attr_values()})
SELECT p.poly_id, a.eas_id, count(*) AS n_points,
       {SR('min(pt.o_totalprice)', 2)} AS min_price,
       {SR('max(pt.o_totalprice)', 2)} AS max_price,
       {SR('avg(pt.o_totalprice)', 4)} AS avg_price
FROM pip p JOIN pts pt USING (o_orderkey) JOIN attrs a USING (poly_id)
GROUP BY p.poly_id, a.eas_id""",
)
def q_pip_zonal_stats(spark, sf_dir):
    """Zonal statistics (alg/zonal.cpp:273 semantics): stats of point values
    per polygon zone = PIP join + groupBy(zone)."""
    pts = order_points(spark, sf_dir)
    joined = PIP.pip_join(pts, polygons_df(spark), first_match=True)
    attrs = polygons_df(spark).select("poly_id", "eas_id")
    return (
        joined.join(F.broadcast(attrs), "poly_id")
        .groupBy("poly_id", "eas_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            R(F.min("o_totalprice"), 2).alias("min_price"),
            R(F.max("o_totalprice"), 2).alias("max_price"),
            R(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


KNN_K = 5
KNN_PRED = "o_orderkey % 1500 = 7"


def _knn_oracle() -> str:
    dist = G.sql_great_circle_m("q.lat", "q.lon", "p.lat", "p.lon")
    return f"""
WITH pts AS ({SQL_POINTS}), q AS (SELECT * FROM pts WHERE {KNN_PRED}),
d AS (SELECT q.o_orderkey AS query_id, p.o_orderkey AS neighbor_id,
             {dist} AS dist FROM q CROSS JOIN pts p
      WHERE p.o_orderkey <> q.o_orderkey),
r AS (SELECT query_id, neighbor_id, dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rk
      FROM d)
SELECT query_id, neighbor_id, rk AS "rank", {SR('dist', 3)} AS dist_m
FROM r WHERE rk <= {KNN_K}"""


@register("knn_exact", _knn_oracle())
def q_knn_exact(spark, sf_dir):
    """Exact kNN: broadcast queries, partition-local top-k, window refine."""
    pts = order_points(spark, sf_dir)
    queries = pts.filter(F.expr(KNN_PRED)).select(
        F.col("o_orderkey").alias("query_id"), "lon", "lat"
    )
    out = KNN.knn_join(pts, queries, k=KNN_K, point_id="o_orderkey")
    return out.withColumn("dist_m", R("dist_m", 3))


@register("knn_cells", _knn_oracle())
def q_knn_cells(spark, sf_dir):
    """Cell k-ring kNN (quadkey k-ring ≈ H3 k-ring). zoom=2/ring=2 covers the
    whole 4×4 tile matrix → exact, same oracle; higher zooms trade recall."""
    pts = order_points(spark, sf_dir)
    queries = pts.filter(F.expr(KNN_PRED)).select(
        F.col("o_orderkey").alias("query_id"), "lon", "lat"
    )
    out = KNN.knn_cell_join(
        pts, queries, k=KNN_K, zoom=2, ring=2, point_id="o_orderkey"
    )
    return out.withColumn("dist_m", R("dist_m", 3))


from gdal_spark.spatial import crs as CRS  # noqa: E402
from gdal_spark.spatial import curves as CV  # noqa: E402


def _curve_fixture_rows():
    """Curve WKB fixture with ANALYTIC parameters (the oracle computes the
    expected chord-sum lengths/areas from center/radius/sweep in closed
    form — an independent evaluation path from the engine's vertex walk).

      1: half circle r=10 (CircularString)           sweep 180°, m=45
      2: quarter arc r=5 centre (3,4), 90°→180°      sweep 90°,  m=23
      3: CurvePolygon full circle r=8 centre (1,2)   two arcs, 90-gon
      4: CompoundCurve line(0,0→10,0) + half arc r=5 joint at (10,0)
    """
    import math as _m

    s2 = 5.0 / _m.sqrt(2.0)
    rows = [
        (1, CV.wkb_circularstring([(10, 0), (0, 10), (-10, 0)])),
        (2, CV.wkb_circularstring([(3, 9), (3 - s2, 4 + s2), (-2, 4)])),
        (3, CV.wkb_curvepolygon([
            CV.wkb_circularstring(
                [(9, 2), (1, 10), (-7, 2), (1, -6), (9, 2)]
            )
        ])),
        (4, CV.wkb_compoundcurve([
            CV.wkb_linestring([(0, 0), (10, 0)]),
            CV.wkb_circularstring([(10, 0), (15, 5), (20, 0)]),
        ])),
    ]
    return [(i, bytearray(w)) for i, w in rows]


def _sql_curve_linearize() -> str:
    # closed-form chord sums: m segments of central angle θ/m on radius r
    # have total length m·2r·sin(θ/(2m)); the inscribed m-gon area is
    # (m/2)·r²·sin(2π/m)
    half = "45 * 2.0 * 10.0 * sin(pi() / 90.0)"
    quarter = "23 * 2.0 * 5.0 * sin(pi() / 92.0)"
    ring_len = "90 * 2.0 * 8.0 * sin(pi() / 90.0)"
    ring_area = "45.0 * 64.0 * sin(pi() / 45.0)"
    compound = f"10.0 + 45 * 2.0 * 5.0 * sin(pi() / 90.0)"
    return f"""
SELECT curve_id, kind, n_points,
       {SR('len_expr', 6)} AS length, {SR('area_expr', 6)} AS area
FROM (VALUES
  (1, 'line', 46, {half}, 0.0),
  (2, 'line', 24, {quarter}, 0.0),
  (3, 'polygon', 91, {ring_len}, {ring_area}),
  (4, 'line', 47, {compound}, 0.0)
) AS t(curve_id, kind, n_points, len_expr, area_expr)"""


DELAUNAY_PRED = "o_orderkey % 101 = 7"

# The fixture's 1e-4-quantized geotags contain EXACTLY collinear triples
# (hundreds at sf0.01) — not the general position Euler's t = 2n−2−h and
# Bowyer–Watson assume. A deterministic QUADRATIC jitter (linear jitter
# preserves collinearity) in integer-mod arithmetic — identical doubles on
# both engines — restores general position; amplitude 1e-6 ≪ the 1e-4 grid.
_DJX = "((o_orderkey * o_orderkey) % 89) * 1e-6"
_DJY = "((o_orderkey * o_orderkey * o_orderkey) % 83) * 1e-6"


def _sql_delaunay() -> str:
    # INDEPENDENT oracle: no triangulation at all — hull edges by the
    # O(n³) all-points-left test, then Euler's relation for a triangulation
    # of an n-point set in general position: t = 2n − 2 − h, and the
    # triangulated area = the convex hull area = ½ Σ cross over the
    # directed hull edges (cycle sum needs no ordering).
    return f"""
WITH pts AS ({SQL_POINTS}),
p AS (SELECT o_orderkey AS i, lon + {_DJX} AS x, lat + {_DJY} AS y
      FROM pts WHERE {DELAUNAY_PRED}),
he AS (
  SELECT a.i AS ia, a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
  FROM p a JOIN p b ON a.i <> b.i
  WHERE NOT EXISTS (
    SELECT 1 FROM p c WHERE c.i <> a.i AND c.i <> b.i
      AND (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) < 0))
SELECT (SELECT count(*) FROM p)::int AS n_points,
       (SELECT count(*) FROM he)::int AS n_hull,
       (2 * (SELECT count(*) FROM p) - 2 - (SELECT count(*) FROM he))::int
         AS n_triangles,
       {SR('(SELECT sum(xa * yb - xb * ya) FROM he) / 2.0', 6)} AS total_area"""


@register("delaunay_triangulate", _sql_delaunay())
def q_delaunay_triangulate(spark, sf_dir):
    """Delaunay triangulation (ogrgeometry.cpp:7112): Bowyer–Watson group
    kernel over a deterministic point subset. The oracle never
    triangulates — it derives hull-edge count via the all-points-left test,
    the triangle count from Euler's relation t = 2n−2−h, and the total
    area from the directed hull-edge cycle sum; the engine must agree on
    all three, which pins both the combinatorics and the geometry."""
    import pandas as pd

    from gdal_spark.operators import triangulate as TRI

    pts = (
        order_points(spark, sf_dir)
        .filter(F.expr(DELAUNAY_PRED))
        .select(
            "o_orderkey",
            (F.col("lon") + F.expr(_DJX)).alias("lon"),
            (F.col("lat") + F.expr(_DJY)).alias("lat"),
        )
    )

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        p = np.stack(
            [pdf["lon"].to_numpy(np.float64), pdf["lat"].to_numpy(np.float64)],
            axis=1,
        )
        tris = TRI.delaunay(p)
        return pd.DataFrame(
            {
                "n_points": [p.shape[0]],
                "n_hull": [len(TRI.boundary_edges(tris))],
                "n_triangles": [tris.shape[0]],
                "total_area": [float(TRI.tri_areas(p, tris).sum())],
            }
        )

    out = pts.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        run, "n_points int, n_hull int, n_triangles int, total_area double"
    )
    return out.select(
        "n_points", "n_hull", "n_triangles",
        R("total_area", 6).alias("total_area"),
    )


@register("curve_linearize", _sql_curve_linearize())
def q_curve_linearize(spark, sf_dir):
    """Curve geometries (ogr_geometry.h:1496-2461 CircularString /
    CompoundCurve / CurvePolygon — previously rejected by the WKB codec):
    parse curve WKB, stroke arcs at the OGR default 4° step
    (OGRGeometryFactory::curveToLineString semantics), and report vertex
    count + linearized length (+ ring area for CurvePolygon). Oracle =
    closed-form chord-sum/inscribed-polygon formulas evaluated by DuckDB
    from the fixture's analytic parameters."""
    import pandas as pd

    df = spark.createDataFrame(
        _curve_fixture_rows(), "curve_id int, wkb binary"
    )

    def run(batches):
        for pdf in batches:
            ids, kinds, npts, lens, areas = [], [], [], [], []
            for cid, blob in zip(pdf["curve_id"], pdf["wkb"]):
                kind, lin = CV.curve_to_line_wkb(bytes(blob))
                if kind == "polygon":
                    ring = lin[0]
                    n = sum(r.shape[0] for r in lin)
                    length = sum(CV.line_length(r) for r in lin)
                    area = G.rings_area(lin)
                else:
                    n = lin.shape[0]
                    length = CV.line_length(lin)
                    area = 0.0
                ids.append(int(cid))
                kinds.append(kind)
                npts.append(n)
                lens.append(length)
                areas.append(area)
            yield pd.DataFrame(
                {
                    "curve_id": pd.Series(ids, dtype="int32"),
                    "kind": kinds,
                    "n_points": pd.Series(npts, dtype="int32"),
                    "length": pd.Series(lens, dtype="float64"),
                    "area": pd.Series(areas, dtype="float64"),
                }
            )

    out = df.mapInPandas(
        run,
        "curve_id int, kind string, n_points int, length double, area double",
    )
    return out.select(
        "curve_id", "kind", "n_points",
        R("length", 6).alias("length"), R("area", 6).alias("area"),
    )


def _sql_utm() -> str:
    zone, easting, northing = CRS.sql_utm_forward("lon", "lat")
    return f"""WITH pts AS ({SQL_POINTS})
SELECT o_orderkey, {zone} AS zone,
       {SR(easting, 2)} AS easting, {SR(northing, 2)} AS northing
FROM pts"""


@register("utm_project", _sql_utm())
def q_utm_project(spark, sf_dir):
    """UTM projection (ogrct.cpp:1002 / PROJ tmerc semantics, re-derived
    from the public Karney/Krüger n-series — CRS reach beyond the closed
    form 4326↔3857 pair): zone from longitude, easting/northing as pure
    column math (map-only, whole-stage codegen). Oracle = the identical
    series evaluated by DuckDB's trig (atanh expanded to 0.5·ln((1+x)/(1-x))
    on both engines so the expression trees match); rounded to cm."""
    pts = order_points(spark, sf_dir)
    zone = CRS.utm_zone(F.col("lon"))
    e, n = CRS.utm_forward(F.col("lon"), F.col("lat"), zone)
    return pts.select(
        "o_orderkey", zone.alias("zone"),
        R(e, 2).alias("easting"), R(n, 2).alias("northing"),
    )


@register("knn_cells_z7", _knn_oracle())
def q_knn_cells_z7(spark, sf_dir):
    """Realistic fixed-ring cell kNN (VERDICT r2 #10): zoom=7 (128×128
    cells), ring=3 — a 7×7 window, ~0.3% of the tile matrix, the plan shape
    a production fixed-ring join runs (the zoom-2 `knn_cells` demo covers
    the whole matrix and demonstrates the exhaustive fallback). Exact on the
    fixture at sf0.001 AND sf0.01 (verified against brute force for k=5);
    shares the exact-kNN oracle."""
    pts = order_points(spark, sf_dir)
    queries = pts.filter(F.expr(KNN_PRED)).select(
        F.col("o_orderkey").alias("query_id"), "lon", "lat"
    )
    out = KNN.knn_cell_join(
        pts, queries, k=KNN_K, zoom=7, ring=3, point_id="o_orderkey"
    )
    return out.withColumn("dist_m", R("dist_m", 3))


# --- raster sampling -------------------------------------------------------

Z_RASTER = 3
_MAXPX = (1 << Z_RASTER) * 256 - 1
_RES = 2 * TM.ORIGIN_SHIFT / ((1 << Z_RASTER) * 256)


def _sql_global_px(lon_expr: str, lat_expr: str) -> tuple[str, str]:
    mx = TM.sql_meters_x(lon_expr)
    my = TM.sql_meters_y(lat_expr)
    gx = f"((({mx}) + {TM.ORIGIN_SHIFT!r}) / {_RES!r})"
    gy = f"(({TM.ORIGIN_SHIFT!r} - ({my})) / {_RES!r})"
    return gx, gy


def _sql_nearest_val() -> str:
    gx, gy = _sql_global_px(sql_lon("o_orderkey"), sql_lat("o_orderkey"))
    ix = f"least({_MAXPX}, greatest(0, floor(({gx}) + 1e-10)))::bigint"
    iy = f"least({_MAXPX}, greatest(0, floor(({gy}) + 1e-10)))::bigint"
    return TL.sql_pixel_value(ix, iy, "1")


@register(
    "raster_sample_nearest",
    f"SELECT o_orderkey, {_sql_nearest_val()} AS nearest_val FROM orders",
)
def q_raster_sample_nearest(spark, sf_dir):
    """Warp-nearest point sampling (int(x+1e-10), gdalwarpkernel.cpp:5228)."""
    pts = order_points(spark, sf_dir)
    raster = TL.synthetic_raster(spark, Z_RASTER, bands=1)
    return TL.sample_nearest(
        pts, raster, Z_RASTER, band=1, point_id="o_orderkey"
    )


def _sql_bilinear_val(id_expr: str = "o_orderkey") -> str:
    gx, gy = _sql_global_px(sql_lon(id_expr), sql_lat(id_expr))
    ix0 = f"floor(({gx}) - 0.5)"
    iy0 = f"floor(({gy}) - 0.5)"
    wx = f"(({gx}) - 0.5 - ({ix0}))"
    wy = f"(({gy}) - 0.5 - ({iy0}))"
    terms = []
    for dx in (0, 1):
        for dy in (0, 1):
            cx = f"least({_MAXPX}, greatest(0, ({ix0}) + {dx}))::bigint"
            cy = f"least({_MAXPX}, greatest(0, ({iy0}) + {dy}))::bigint"
            w = (
                f"({'(1.0 - ' + wx + ')' if dx == 0 else wx}) * "
                f"({'(1.0 - ' + wy + ')' if dy == 0 else wy})"
            )
            terms.append(f"({w}) * ({TL.sql_pixel_value(cx, cy, '1')})")
    return SR(" + ".join(terms), 6)


@register(
    "raster_sample_bilinear",
    f"SELECT o_orderkey, {_sql_bilinear_val()} AS bilinear_val FROM orders",
)
def q_raster_sample_bilinear(spark, sf_dir):
    """Warp-bilinear sampling (floor(x-0.5)+weights, gdalwarpkernel:2952)."""
    pts = order_points(spark, sf_dir)
    raster = TL.synthetic_raster(spark, Z_RASTER, bands=1)
    out = TL.sample_bilinear(
        pts, raster, Z_RASTER, band=1, point_id="o_orderkey"
    )
    return out.withColumn("bilinear_val", R("bilinear_val", 6))


@register(
    "raster_overview_mean",
    f"""WITH gs AS (SELECT unnest(generate_series(0, 511)) AS i),
t AS (SELECT unnest(generate_series(0, 1)) AS v)
SELECT tx.v AS tx, ty.v AS ty, 1 AS band,
       {SR('avg(cast(((tx.v * 512 + gx.i) * 31 + (ty.v * 512 + gy.i) * 17 + 7) % 256 AS double))', 6)} AS mean_val
FROM t tx CROSS JOIN t ty CROSS JOIN gs gx CROSS JOIN gs gy
GROUP BY tx.v, ty.v""",
)
def q_raster_overview_mean(spark, sf_dir):
    """Overview pyramid step (z2 → z1 by 2×2 average; overview.cpp:1214) —
    verified via per-parent-tile mean of the closed-form world raster."""
    base = TL.synthetic_raster(spark, zoom=2, bands=1)
    z1 = TL.overview_level(base, tile_size=256)
    mean = F.aggregate(
        F.col("data"), F.lit(0.0), lambda a, v: a + v
    ) / F.size("data")
    return z1.select(
        "tx", "ty", "band", R(mean, 6).alias("mean_val")
    )


Z_BOUNDS = 6


def _sql_tile_bounds() -> str:
    res = TM.resolution(Z_BOUNDS)
    tx = TM.sql_tile_x(sql_lon("o_orderkey"), Z_BOUNDS)
    ty = TM.sql_tile_y_xyz(sql_lat("o_orderkey"), Z_BOUNDS)
    ty_tms = f"({(1 << Z_BOUNDS) - 1} - ({ty}))"
    # every term forced ::double — int*DECIMAL stays DECIMAL in DuckDB and
    # would diverge from Spark's double math
    return f"""
SELECT DISTINCT tx, ty,
  {SR(f"tx::double * 256.0::double * {res!r}::double - {TM.ORIGIN_SHIFT!r}::double", 4)} AS minx,
  {SR(f"ty_tms::double * 256.0::double * {res!r}::double - {TM.ORIGIN_SHIFT!r}::double", 4)} AS miny,
  {SR(f"(tx + 1)::double * 256.0::double * {res!r}::double - {TM.ORIGIN_SHIFT!r}::double", 4)} AS maxx,
  {SR(f"(ty_tms + 1)::double * 256.0::double * {res!r}::double - {TM.ORIGIN_SHIFT!r}::double", 4)} AS maxy
FROM (SELECT {tx} AS tx, {ty} AS ty, {ty_tms} AS ty_tms FROM orders)"""


@register("tile_bounds", _sql_tile_bounds())
def q_tile_bounds(spark, sf_dir):
    """Tile → EPSG:3857 bounds (gdal2tiles.py:480-487 TileBounds)."""
    pts = TL.assign_tiles(
        order_points(spark, sf_dir), Z_BOUNDS, with_quadkey=False
    )
    tiles = pts.select("tx", "ty").distinct()
    ty_tms = (F.lit((1 << Z_BOUNDS) - 1) - F.col("ty")).cast("int")
    tiles = tiles.withColumn("_ty_tms", ty_tms)
    minx, miny, maxx, maxy = TM.tile_bounds_meters(
        F.col("tx"), F.col("_ty_tms"), Z_BOUNDS
    )
    return tiles.select(
        "tx", "ty",
        R(minx, 4).alias("minx"), R(miny, 4).alias("miny"),
        R(maxx, 4).alias("maxx"), R(maxy, 4).alias("maxy"),
    )


# ===========================================================================
# 2. OGR SQL surface (SUMMARY / DISTINCT / ORDER BY / joins / predicates)
# ===========================================================================

@register(
    "sql_summary",
    f"""SELECT count(*) AS cnt, count(DISTINCT l_returnflag) AS n_flags,
       {SR('min(l_quantity)', 2)} AS min_qty, {SR('max(l_quantity)', 2)} AS max_qty,
       {SR('sum(l_quantity)', 2)} AS sum_qty, {SR('avg(l_quantity)', 6)} AS avg_qty,
       {SR('stddev_pop(l_quantity)', 6)} AS sd_pop,
       {SR('stddev_samp(l_quantity)', 6)} AS sd_samp
FROM lineitem""",
)
def q_sql_summary(spark, sf_dir):
    """OGR SUMMARY_RECORD mode: AVG MIN MAX COUNT SUM STDDEV_* single-group
    (ogr_swq.h:320-333, ogr_gensql.cpp:864+)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct("l_returnflag").alias("n_flags"),
        R(F.min("l_quantity"), 2).alias("min_qty"),
        R(F.max("l_quantity"), 2).alias("max_qty"),
        R(F.sum("l_quantity"), 2).alias("sum_qty"),
        R(F.avg("l_quantity"), 6).alias("avg_qty"),
        R(F.stddev_pop("l_quantity"), 6).alias("sd_pop"),
        R(F.stddev_samp("l_quantity"), 6).alias("sd_samp"),
    )


@register(
    "sql_distinct",
    "SELECT DISTINCT o_orderpriority FROM orders",
)
def q_sql_distinct(spark, sf_dir):
    """DISTINCT_LIST mode (ogr_swq.h:322)."""
    return _read(spark, sf_dir, "orders").select("o_orderpriority").distinct()


@register(
    "sql_orderby_limit",
    """SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5""",
)
def q_sql_orderby_limit(spark, sf_dir):
    """ORDER BY + LIMIT/OFFSET (ogr_gensql.cpp:2218-2428, swq LIMIT/OFFSET)."""
    return (
        _read(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(5)
        .limit(10)
    )


@register(
    "sql_like_ilike",
    # p_name is all-lowercase in the fixture, so derive a case-variant column
    # (upper() on even partkeys) to make LIKE genuinely case-sensitive vs
    # ILIKE: n_like counts only the lowercase half, n_ilike counts both.
    """WITH cased AS (
  SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_name) ELSE p_name END AS nm
  FROM part)
SELECT sum(CASE WHEN nm LIKE '%widget%' THEN 1 ELSE 0 END)::bigint AS n_like,
       sum(CASE WHEN nm ILIKE '%widget%' THEN 1 ELSE 0 END)::bigint AS n_ilike
FROM cased""",
)
def q_sql_like_ilike(spark, sf_dir):
    """LIKE case-sensitive vs ILIKE (swq_op_general.cpp:41-95,1102-1111)."""
    p = _read(spark, sf_dir, "part")
    nm = F.when(F.col("p_partkey") % 2 == 0, F.upper("p_name")).otherwise(
        F.col("p_name")
    )
    return p.select(nm.alias("nm")).agg(
        F.sum(F.when(F.col("nm").like("%widget%"), 1).otherwise(0)).alias("n_like"),
        F.sum(F.when(F.col("nm").ilike("%widget%"), 1).otherwise(0)).alias("n_ilike"),
    )


@register(
    "sql_first_match_join",
    """WITH ranked AS (
  SELECT l_orderkey, l_partkey, l_quantity,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey, l_quantity) AS rk
  FROM lineitem)
SELECT o.o_orderkey, o.o_orderstatus, r.l_partkey, r.l_quantity
FROM orders o LEFT JOIN ranked r ON o.o_orderkey = r.l_orderkey AND r.rk = 1""",
)
def q_sql_first_match_join(spark, sf_dir):
    """GDAL LEFT JOIN 1-row first-match semantics (ogr_gensql.cpp:1333-1546):
    the secondary layer contributes only its FIRST matching feature."""
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    # l_linenumber alone is not unique per order in the synthetic data —
    # extend the FID-order key so first-match is deterministic cross-engine
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_quantity"
    )
    first = (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("l_orderkey", "l_partkey", "l_quantity")
    )
    return o.join(
        first, o["o_orderkey"] == first["l_orderkey"], "left"
    ).select("o_orderkey", "o_orderstatus", "l_partkey", "l_quantity")


@register(
    "sql_union_all",
    """SELECT n_name AS name, 'nation' AS src FROM nation
UNION ALL SELECT r_name AS name, 'region' AS src FROM region""",
)
def q_sql_union_all(spark, sf_dir):
    """UNION ALL of two SELECTs (swq_select::PushUnionAll, ogr_swq.h:485)."""
    n = _read(spark, sf_dir, "nation").select(
        F.col("n_name").alias("name"), F.lit("nation").alias("src")
    )
    r = _read(spark, sf_dir, "region").select(
        F.col("r_name").alias("name"), F.lit("region").alias("src")
    )
    return n.unionAll(r)


@register(
    "sql_predicates",
    f"""SELECT count(*) AS n, {SR('sum(o_totalprice)', 2)} AS total
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_totalprice BETWEEN 50000 AND 150000
  AND o_orderstatus IS NOT NULL AND NOT (o_orderstatus = 'P')""",
)
def q_sql_predicates(spark, sf_dir):
    """IN / BETWEEN / IS NULL / NOT (swq_op_registrar.cpp:28-61)."""
    o = _read(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_totalprice").between(50000, 150000)
        & F.col("o_orderstatus").isNotNull()
        & ~(F.col("o_orderstatus") == "P")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        R(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "sql_scalar_funcs",
    """SELECT c_custkey, concat(substring(c_name, 1, 9), '/', c_mktsegment) AS tag,
       CAST(trunc(c_acctbal) AS bigint) AS bal_int,
       length(c_name) AS name_len
FROM customer WHERE c_custkey < 100""",
)
def q_sql_scalar_funcs(spark, sf_dir):
    """CONCAT / SUBSTR / CAST scalar functions (swq_op_general.cpp:1654)."""
    c = _read(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") < 100).select(
        "c_custkey",
        F.concat(
            F.substring("c_name", 1, 9), F.lit("/"), F.col("c_mktsegment")
        ).alias("tag"),
        F.col("c_acctbal").cast("bigint").alias("bal_int"),
        F.length("c_name").alias("name_len"),
    )


@register("sql_count_star", "SELECT count(*) AS n FROM lineitem")
def q_sql_count_star(spark, sf_dir):
    """COUNT(*) metadata fast path (ogr_gensql.cpp:957-977)."""
    return _read(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@register(
    "sql_json_get",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS int) AS k
FROM events WHERE event_id < 500""",
)
def q_sql_json_get(spark, sf_dir):
    """HSTORE_GET_VALUE analog over JSON props (swq_op_general.cpp:291)."""
    e = _read(spark, sf_dir, "events")
    return e.filter(F.col("event_id") < 500).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@register(
    "sql_join_agg",
    f"""SELECT n.n_name, count(*) AS n_orders, {SR('sum(o.o_totalprice)', 2)} AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name""",
)
def q_sql_join_agg(spark, sf_dir):
    """Multi-way equi-join + GROUP BY (Spark-native; OGR reaches this only
    through the SQLite dialect). Dimensions broadcast."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            R(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "sql_dissolve",
    f"""WITH attrs(poly_id, eas_id, prfedea, area, xmin, ymin, xmax, ymax)
  AS ({_poly_attr_values()})
SELECT eas_id, count(*) AS n_polys, {SR('sum(area)', 6)} AS total_area,
       {SR('min(xmin)', 6)} AS xmin, {SR('min(ymin)', 6)} AS ymin,
       {SR('max(xmax)', 6)} AS xmax, {SR('max(ymax)', 6)} AS ymax
FROM attrs GROUP BY eas_id""",
)
def q_sql_dissolve(spark, sf_dir):
    """ENVELOPE dissolve: spatial GROUP BY with envelope-union + area-sum —
    the cheap map-side companion of the true geometry union (see
    `dissolve_union` for the real merged-geometry semantics,
    apps/gdalalg_vector_dissolve.cpp)."""
    p = polygons_df(spark)
    return p.groupBy("eas_id").agg(
        F.count(F.lit(1)).alias("n_polys"),
        R(F.sum("area"), 6).alias("total_area"),
        R(F.min("xmin"), 6).alias("xmin"),
        R(F.min("ymin"), 6).alias("ymin"),
        R(F.max("xmax"), 6).alias("xmax"),
        R(F.max("ymax"), 6).alias("ymax"),
    )


# ===========================================================================
# 3. Training-data pipeline ops (documents / embeddings)
# ===========================================================================

@register("dedup_exact", D.sql_exact_dedup())
def q_dedup_exact(spark, sf_dir):
    return D.exact_dedup(_read(spark, sf_dir, "documents"))


@register(
    "text_quality",
    "SELECT doc_id, "
    + ", ".join(f"{v} AS {k}" for k, v in T.sql_quality_select("text").items())
    + " FROM documents",
)
def q_text_quality(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return T.quality_columns(docs).select(
        "doc_id", *T.sql_quality_select("text").keys()
    )


@register(
    "text_token_counts",
    f"SELECT doc_id, {T.sql_ws_token_count('text')} AS n_ws, "
    f"{T.sql_bpe_token_count('text')} AS n_bpe FROM documents",
)
def q_text_token_counts(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.ws_token_count(F.col("text")).alias("n_ws"),
        T.bpe_token_count(F.col("text")).alias("n_bpe"),
    )


@register(
    "text_lang_id",
    f"SELECT doc_id, lang, {T.sql_lang_id('text')} AS lang_pred FROM documents",
)
def q_text_lang_id(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return T.lang_id(docs).select("doc_id", "lang", "lang_pred")


@register(
    "text_fingerprint",
    f"SELECT doc_id, {T.sql_fingerprint('text')} AS fp FROM documents",
)
def q_text_fingerprint(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


MH_PERM = 16
MH_BANDS = 4


@register(
    "dedup_minhash_sig",
    # gate emits a scalar digest of the signature array (the driver's
    # canonicalizer can't hash array<long> columns); the library API
    # (D.minhash_signatures) still returns the raw sig array
    f"""SELECT doc_id,
       md5(array_to_string({D.sql_minhash_sig('text', MH_PERM)}, ',')) AS sig_md5
FROM documents""",
)
def q_dedup_minhash_sig(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, num_perm=MH_PERM)
    return sigs.select(
        "doc_id",
        F.md5(F.concat_ws(",", F.col("sig").cast("array<string>"))).alias(
            "sig_md5"
        ),
    )


def _sql_minhash_pairs() -> str:
    rpb = MH_PERM // MH_BANDS
    band_rows = []
    for b in range(MH_BANDS):
        cols = ", ".join(
            f"sig[{b * rpb + r + 1}]::varchar" for r in range(rpb)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws(',', '{b}', {cols})) AS bh FROM sigs"
        )
    banded = " UNION ALL ".join(band_rows)
    match = (
        f"len(list_filter(range(1, {MH_PERM} + 1), "
        f"i -> sa.sig[i] = sb.sig[i]))"
    )
    return f"""
WITH sigs AS (SELECT doc_id, {D.sql_minhash_sig('text', MH_PERM)} AS sig FROM documents),
banded AS ({banded}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
         WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b,
       {SR(f'({match}) / {float(MH_PERM)!r}', 6)} AS est_jaccard
FROM cand JOIN sigs sa ON sa.doc_id = id_a JOIN sigs sb ON sb.doc_id = id_b
WHERE {SR(f'({match}) / {float(MH_PERM)!r}', 6)} >= 0.5"""


@register("dedup_minhash_pairs", _sql_minhash_pairs())
def q_dedup_minhash_pairs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return D.minhash_dedup_pairs(
        docs, num_perm=MH_PERM, bands=MH_BANDS, threshold=0.5
    )


@register(
    "dedup_simhash",
    f"SELECT doc_id, {D.sql_simhash('text')} AS sh FROM documents",
)
def q_dedup_simhash(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", D.simhash(F.col("text")).alias("sh"))


EMB_DIM = 64
ANN_K = 5
ANN_PRED = "vec_id % 100 = 1"


def _sql_cosine_topk() -> str:
    cos = SIM.sql_cosine("q.embedding", "v.embedding")
    return f"""
WITH q AS (SELECT * FROM embeddings WHERE {ANN_PRED}),
d AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, {cos} AS sim
      FROM q CROSS JOIN embeddings v WHERE v.vec_id <> q.vec_id),
r AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM d)
SELECT query_id, neighbor_id, rk AS "rank", sim FROM r WHERE rk <= {ANN_K}"""


@register("embed_cosine_topk", _sql_cosine_topk())
def q_embed_cosine_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(ANN_PRED)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.cosine_topk(emb, queries, k=ANN_K)


def _sql_ann_lsh_topk(nb: int = 6) -> str:
    cos = SIM.sql_cosine("q.embedding", "v.embedding")
    # multi-probe: exact bucket + every 1-bit flip (mirrors ann_lsh_topk)
    return f"""
WITH q0 AS (SELECT * FROM embeddings WHERE {ANN_PRED}),
q AS (SELECT q0.*, ({SIM.sql_lsh_bucket('q0.embedding', nb, EMB_DIM)}) AS qbucket FROM q0),
v0 AS (SELECT v.*, ({SIM.sql_lsh_bucket('v.embedding', nb, EMB_DIM)}) AS vbucket
       FROM embeddings v),
d AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, {cos} AS sim
      FROM q JOIN v0 v ON v.vbucket IN
        (q.qbucket{''.join(f', xor(q.qbucket, {1 << j})' for j in range(nb))})
      WHERE v.vec_id <> q.vec_id),
r AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM d)
SELECT query_id, neighbor_id, rk AS "rank", sim FROM r WHERE rk <= {ANN_K}"""


@register("embed_ann_lsh", _sql_ann_lsh_topk())
def q_embed_ann_lsh(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(ANN_PRED)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ann_lsh_topk(emb, queries, k=ANN_K, dim=EMB_DIM, nb=6)


def _sql_cosine_pairs(nb: int = 4, threshold: float = 0.3) -> str:
    ba = SIM.sql_lsh_bucket("a.embedding", nb, EMB_DIM)
    bb = SIM.sql_lsh_bucket("b.embedding", nb, EMB_DIM)
    cos = SIM.sql_cosine("a.embedding", "b.embedding")
    return f"""
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS sim
FROM embeddings a JOIN embeddings b ON ({ba}) = ({bb})
WHERE a.vec_id < b.vec_id AND {cos} >= {threshold!r}"""


@register("embed_cosine_pairs", _sql_cosine_pairs())
def q_embed_cosine_pairs(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    return SIM.cosine_pairs(emb, dim=EMB_DIM, threshold=0.3, nb=4)


@register(
    "multimodal_meta",
    """SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'audio' ELSE 'image' END AS media_type,
       CASE WHEN doc_id % 3 = 0 THEN 'FAUD' ELSE 'FIMG' END AS magic,
       146 AS media_bytes,
       (doc_id % 64 + 16)::int AS media_w, (doc_id % 48 + 16)::int AS media_h
FROM documents""",
)
def q_multimodal_meta(spark, sf_dir):
    """Multimodal binary-column plumbing: attach deterministic media, parse
    typed metadata back out of the binary column (pure column math)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    media = MM.attach_media(docs)
    meta = MM.media_metadata(media)
    return meta.select(
        "doc_id", "media_type", "magic",
        F.col("media_bytes").cast("int").alias("media_bytes"),
        "media_w", "media_h",
    )


# ===========================================================================
# 4. Event-time windowing (streaming semantics, batch-verifiable)
# ===========================================================================

Z_EVENTS = 4


@register(
    "events_tile_windows",
    f"""SELECT epoch(date_trunc('hour', ts))::bigint AS win_epoch,
       {TM.sql_tile_x(sql_lon('event_id'), Z_EVENTS)} AS tx,
       {TM.sql_tile_y_xyz(sql_lat('event_id'), Z_EVENTS)} AS ty,
       count(*) AS n_events, {SR('sum(value)', 4)} AS sum_value
FROM events GROUP BY 1, 2, 3""",
)
def q_events_tile_windows(spark, sf_dir):
    """Tumbling event-time windows × tile rollup — the Structured-Streaming
    aggregation (streaming/ingest.py) in its batch-equivalent form."""
    e = _read(spark, sf_dir, "events").select(
        "ts", "value",
        derived_lon(F.col("event_id")).alias("lon"),
        derived_lat(F.col("event_id")).alias("lat"),
    )
    tx, ty = TM.lonlat_to_tile(F.col("lon"), F.col("lat"), Z_EVENTS)
    return (
        e.withColumn("tx", tx).withColumn("ty", ty)
        .groupBy(F.window("ts", "1 hour"), "tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            R(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("win_epoch"),
            "tx", "ty", "n_events", "sum_value",
        )
    )


# ===========================================================================
# 5. Additional coverage: jaccard verify, sort layout, special fields,
#    IDW gridding, WKB round-trip
# ===========================================================================

def _sql_jaccard_verify() -> str:
    rpb = MH_PERM // MH_BANDS
    band_rows = []
    for b in range(MH_BANDS):
        cols = ", ".join(
            f"sig[{b * rpb + r + 1}]::varchar" for r in range(rpb)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws(',', '{b}', {cols})) AS bh FROM sigs"
        )
    banded = " UNION ALL ".join(band_rows)
    jac = (
        "len(list_intersect(sa.sh, sb.sh))::double / "
        "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))::double"
    )
    return f"""
WITH sigs AS (SELECT doc_id, {D.sql_minhash_sig('text', MH_PERM)} AS sig FROM documents),
banded AS ({banded}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
         WHERE a.doc_id < b.doc_id),
sh AS (SELECT doc_id, {D.sql_shingles('text', 3)} AS sh FROM documents)
SELECT id_a, id_b, {SR(jac, 6)} AS jaccard
FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b"""


@register("dedup_jaccard_verify", _sql_jaccard_verify())
def q_dedup_jaccard_verify(spark, sf_dir):
    """Exact n-gram Jaccard verify of LSH candidate pairs — the adversarial
    second stage after MinHash banding."""
    docs = _read(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(docs, num_perm=MH_PERM).persist()
    pairs = D.lsh_candidate_pairs(sigs, bands=MH_BANDS,
                                  rows_per_band=MH_PERM // MH_BANDS)
    return D.jaccard_pairs(docs, pairs, w=3)


Z_SORT = 12


@register(
    "sort_quadkey",
    f"""WITH keyed AS (
  SELECT o_orderkey,
         {TM.sql_quadkey(TM.sql_tile_x(sql_lon('o_orderkey'), Z_SORT), TM.sql_tile_y_xyz(sql_lat('o_orderkey'), Z_SORT), Z_SORT)} AS quadkey
  FROM orders)
SELECT o_orderkey, quadkey,
       row_number() OVER (ORDER BY quadkey, o_orderkey) AS pos
FROM keyed ORDER BY quadkey, o_orderkey LIMIT 100""",
)
def q_sort_quadkey(spark, sf_dir):
    """Space-filling-curve sort layout (gdal vector sort hilbert semantics,
    gdalalg_vector_sort.cpp:371 — quadkey is our curve): the physical-layout
    operator that makes range scans spatially local. Position computed with
    the DISTRIBUTED range-partition + offset-composed rank (operators/
    curve_sort.py) — no single-partition window."""
    from gdal_spark.operators.curve_sort import curve_rank

    pts = TL.assign_tiles(order_points(spark, sf_dir), Z_SORT)
    ranked = curve_rank(
        pts.select("o_orderkey", "quadkey"), "quadkey", "o_orderkey"
    )
    return ranked.orderBy("quadkey", "o_orderkey").limit(100)


@register(
    "special_fields",
    f"""WITH attrs(poly_id, eas_id, prfedea, area, xmin, ymin, xmax, ymax)
  AS ({_poly_attr_values()})
SELECT poly_id AS fid, eas_id, {SR('area', 9)} AS geom_area,
       (xmax - xmin) * (ymax - ymin) AS env_area
FROM attrs""",
)
def q_special_fields(spark, sf_dir):
    """OGR special/computed fields (FID, OGR_GEOM_AREA — ogr/ogr_p.h:166-170)
    as plain derived columns."""
    p = polygons_df(spark)
    return p.select(
        F.col("poly_id").alias("fid"),
        "eas_id",
        R("area", 9).alias("geom_area"),
        ((F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin"))).alias("env_area"),
    )


Z_IDW = 4


def _sql_grid_idw() -> str:
    tx = TM.sql_tile_x("lon", Z_IDW)
    ty = TM.sql_tile_y_xyz("lat", Z_IDW)
    res = TM.resolution(Z_IDW)
    # tile center in meters -> lon/lat (closed form, ::double literals)
    cx = f"((tx::double + 0.5) * 256.0::double * {res!r}::double - {TM.ORIGIN_SHIFT!r}::double)"
    ty_tms = f"({(1 << Z_IDW) - 1} - ty)"
    cy = f"(({ty_tms}::double + 0.5) * 256.0::double * {res!r}::double - {TM.ORIGIN_SHIFT!r}::double)"
    clon = f"(({cx}) / {TM.ORIGIN_SHIFT!r}::double * 180.0::double)"
    clat = (
        f"(180.0::double / pi() * (2.0::double * atan(exp(({cy}) / {TM.ORIGIN_SHIFT!r}::double"
        f" * 180.0::double * pi() / 180.0::double)) - pi() / 2.0::double))"
    )
    d2 = f"((lon - {clon}) * (lon - {clon}) + (lat - {clat}) * (lat - {clat}) + 1e-12)"
    return f"""
WITH pts AS (SELECT o_orderkey, o_totalprice, lon, lat, {tx} AS tx, {ty} AS ty
             FROM ({SQL_POINTS})),
agg AS (
  SELECT tx, ty, count(*) AS n_points,
         sum(o_totalprice / {d2}) AS num, sum(1.0::double / {d2}) AS den
  FROM pts GROUP BY tx, ty)
SELECT tx, ty, n_points, {SR('num / den', 2)} AS idw_price
FROM agg WHERE n_points >= 20"""


@register("grid_idw", _sql_grid_idw())
def q_grid_idw(spark, sf_dir):
    """Points→raster IDW gridding (alg/gdalgrid.cpp:110 GDALGridInverse
    DistanceToAPower, power=2, cell-local): per z4 tile, inverse-distance-
    weighted mean of point values about the tile center. Pure column math +
    one groupBy shuffle."""
    pts = TL.assign_tiles(order_points(spark, sf_dir), Z_IDW, with_quadkey=False)
    res = TM.resolution(Z_IDW)
    cx = (F.col("tx").cast("double") + F.lit(0.5)) * F.lit(256.0) * F.lit(res) - F.lit(TM.ORIGIN_SHIFT)
    ty_tms = (F.lit((1 << Z_IDW) - 1) - F.col("ty")).cast("double")
    cy = (ty_tms + F.lit(0.5)) * F.lit(256.0) * F.lit(res) - F.lit(TM.ORIGIN_SHIFT)
    clon, clat = TM.meters_to_lonlat(cx, cy)
    d2 = (
        (F.col("lon") - clon) * (F.col("lon") - clon)
        + (F.col("lat") - clat) * (F.col("lat") - clat)
        + F.lit(1e-12)
    )
    return (
        pts.withColumn("_num", F.col("o_totalprice") / d2)
        .withColumn("_den", F.lit(1.0) / d2)
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("_num").alias("num"),
            F.sum("_den").alias("den"),
        )
        .filter(F.col("n_points") >= 20)
        .select(
            "tx", "ty", "n_points",
            R(F.col("num") / F.col("den"), 2).alias("idw_price"),
        )
    )


@register(
    "wkb_roundtrip",
    f"""WITH attrs(poly_id, eas_id, prfedea, area, xmin, ymin, xmax, ymax)
  AS ({_poly_attr_values()})
SELECT poly_id, {SR('area', 9)} AS rt_area FROM attrs""",
)
def q_wkb_roundtrip(spark, sf_dir):
    """WKB codec round-trip (ogc.wkb Arrow convention, ogrlayerarrow.cpp:
    720-768): parse the polygon layer's WKB binary back into rings and
    recompute the shoelace area — must reproduce the stored area exactly."""
    from typing import Iterator

    import pandas as pd

    from gdal_spark.data.pages import _shoelace

    p = polygons_df(spark).select("poly_id", "wkb")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, areas = [], []
            for pid, wkb in zip(pdf["poly_id"], pdf["wkb"]):
                kind, rings = G.parse_wkb(bytes(wkb))
                ids.append(pid)
                areas.append(_shoelace(rings))
            yield pd.DataFrame({"poly_id": ids, "rt_area": areas})

    out = p.mapInPandas(run, "poly_id long, rt_area double")
    return out.select("poly_id", R("rt_area", 9).alias("rt_area"))


# ===========================================================================
# 6. Window analytics + sessionization (events)
# ===========================================================================

@register(
    "window_analytics",
    f"""SELECT event_id, user_id, value,
       row_number() OVER w AS rn,
       rank() OVER (PARTITION BY user_id ORDER BY event_type) AS rnk,
       {SR('lag(value, 1, 0.0) OVER w', 4)} AS prev_value,
       {SR('avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)', 4)} AS mov_avg
FROM events WHERE user_id < 50
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
)
def q_window_analytics(spark, sf_dir):
    """Window/analytic functions (absent from OGR SQL §2.5 — reachable in
    the reference only via the SQLite dialect ≥3.25; native here):
    row_number, rank, lag, moving average."""
    from pyspark.sql import Window

    e = _read(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = Window.partitionBy("user_id").orderBy("event_type")
    wm = w.rowsBetween(-2, 0)
    return e.select(
        "event_id", "user_id", "value",
        F.row_number().over(w).alias("rn"),
        F.rank().over(wr).alias("rnk"),
        R(F.lag("value", 1, 0.0).over(w), 4).alias("prev_value"),
        R(F.avg("value").over(wm), 4).alias("mov_avg"),
    )


SESSION_GAP_S = 1800


@register(
    "sessionize",
    f"""WITH ordered AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) > {SESSION_GAP_S}.0::double
              THEN 1 ELSE 0 END AS new_session
  FROM ordered),
sessions AS (
  SELECT user_id, ts, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING)::bigint AS session_id
  FROM flagged)
SELECT user_id, session_id, count(*) AS n_events,
       floor(epoch(min(ts)))::bigint AS start_epoch,
       floor(epoch(max(ts)))::bigint AS end_epoch
FROM sessions GROUP BY user_id, session_id""",
)
def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) — the classic stateful
    event-stream operator in its batch form: lag → cumulative-sum session
    ids → per-session rollup. Structured Streaming twin: session_window()."""
    from pyspark.sql import Window

    e = _read(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # fractional-second-exact gap: unix_timestamp() truncates to seconds
    # (and DuckDB's epoch() doesn't), so compare raw double epochs
    ep = F.col("ts").cast("timestamp").cast("double")
    prev_ep = F.lag(ep).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(
            prev_ep.isNull() | (ep - prev_ep > float(SESSION_GAP_S)), 1
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(F.min("ts").cast("timestamp").cast("double")).cast("bigint").alias("start_epoch"),
        F.floor(F.max("ts").cast("timestamp").cast("double")).cast("bigint").alias("end_epoch"),
    )


@register(
    "zonal_median_mode",
    sql_pip_cte()
    + """
SELECT p.poly_id, count(*) AS n_points,
       (floor(median(pt.o_totalprice) * 10000.0 + 0.5) / 10000.0) AS med_price,
       min(cast(trunc(pt.o_totalprice) AS bigint) % 10) AS mode_check
FROM pip p JOIN pts pt USING (o_orderkey)
GROUP BY p.poly_id""",
)
def q_zonal_median_mode(spark, sf_dir):
    """Zonal stats extended menu (apps/gdalalg_raster_zonal_stats.cpp:66-80:
    median/mode/minority/variety): exact median via percentile(0.5) — both
    engines average the two middle elements on even counts."""
    pts = order_points(spark, sf_dir)
    joined = PIP.pip_join(pts, polygons_df(spark), first_match=True)
    return joined.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        R(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("med_price"),
        F.min(F.col("o_totalprice").cast("bigint") % 10).alias("mode_check"),
    )


@register(
    "geom_measures",
    f"""WITH attrs(poly_id, eas_id, prfedea, area, xmin, ymin, xmax, ymax)
  AS ({_poly_attr_values()})
SELECT poly_id, {SR('area', 9)} AS area,
       {SR('(xmax - xmin) * 2.0::double + (ymax - ymin) * 2.0::double', 9)} AS env_perimeter
FROM attrs""",
)
def q_geom_measures(spark, sf_dir):
    """Geometry measures (Area — OGR_GEOM_AREA; envelope perimeter standing
    in for Length; ogrgeometry.cpp:3811+ family): computed from the ring
    arrays by the numpy shoelace kernel, verified against stored attrs."""
    from typing import Iterator

    import pandas as pd

    from gdal_spark.data.pages import _shoelace

    p = polygons_df(spark).select("poly_id", "rings", "xmin", "ymin", "xmax", "ymax")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            areas = [
                _shoelace(G.rings_to_numpy(rings)) for rings in pdf["rings"]
            ]
            out = pdf.drop(columns=["rings"]).copy()
            out["area"] = areas
            yield out

    out = p.mapInPandas(
        run,
        "poly_id long, xmin double, ymin double, xmax double, ymax double, area double",
    )
    perim = (F.col("xmax") - F.col("xmin")) * F.lit(2.0) + (
        F.col("ymax") - F.col("ymin")
    ) * F.lit(2.0)
    return out.select(
        "poly_id", R("area", 9).alias("area"),
        R(perim, 9).alias("env_perimeter"),
    )


# ===========================================================================
# 7. Centroid + rasterize (vector→raster burn)
# ===========================================================================

def _py_centroid(rings) -> tuple[float, float]:
    """Area-weighted polygon centroid (standard shoelace moments; holes via
    signed ring orientation — matches OGRGeometry::Centroid / GEOS for
    simple polygons)."""
    # signed shoelace moments: holes contribute with opposite winding
    # (pages.py reverses hole rings), so the sums handle them natively
    sa = 0.0
    cx = 0.0
    cy = 0.0
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x, y = r[:, 0], r[:, 1]
        cross = x[:-1] * y[1:] - x[1:] * y[:-1]
        sa += float(cross.sum()) / 2.0
        cx += float(((x[:-1] + x[1:]) * cross).sum()) / 6.0
        cy += float(((y[:-1] + y[1:]) * cross).sum()) / 6.0
    return cx / sa, cy / sa


def _centroid_values() -> str:
    rows = []
    for rec in polygon_records():
        cx, cy = _py_centroid(rec["rings"])
        rows.append(f"({rec['poly_id']}, {cx!r}::double, {cy!r}::double)")
    return "VALUES " + ", ".join(rows)


@register(
    "geom_centroid",
    f"""WITH cent(poly_id, cx, cy) AS ({_centroid_values()})
SELECT poly_id, {SR('cx', 9)} AS cx, {SR('cy', 9)} AS cy FROM cent""",
)
def q_geom_centroid(spark, sf_dir):
    """Polygon centroid (ogrgeometry.cpp:6519 Centroid, GEOS-backed in the
    reference; shoelace-moment numpy kernel here). The oracle VALUES are
    computed by an independent driver-side evaluation of the same closed
    form — the gate verifies the distributed kernel reproduces them."""
    from typing import Iterator

    import pandas as pd

    p = polygons_df(spark).select("poly_id", "rings")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, cxs, cys = [], [], []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                cx, cy = _py_centroid(G.rings_to_numpy(rings))
                ids.append(pid)
                cxs.append(cx)
                cys.append(cy)
            yield pd.DataFrame({"poly_id": ids, "cx": cxs, "cy": cys})

    out = p.mapInPandas(run, "poly_id long, cx double, cy double")
    return out.select("poly_id", R("cx", 9).alias("cx"), R("cy", 9).alias("cy"))


Z_BURN = 6


@register(
    "rasterize_points",
    f"""WITH px AS (
  SELECT o_totalprice,
         least({(1 << Z_BURN) * 256 - 1}, greatest(0, floor((({TM.sql_meters_x(sql_lon('o_orderkey'))}) + {TM.ORIGIN_SHIFT!r}) / {2 * TM.ORIGIN_SHIFT / ((1 << Z_BURN) * 256)!r} + 1e-10)))::bigint AS gx,
         least({(1 << Z_BURN) * 256 - 1}, greatest(0, floor(({TM.ORIGIN_SHIFT!r} - ({TM.sql_meters_y(sql_lat('o_orderkey'))})) / {2 * TM.ORIGIN_SHIFT / ((1 << Z_BURN) * 256)!r} + 1e-10)))::bigint AS gy
  FROM orders)
SELECT (gx // 256)::int AS tx, (gy // 256)::int AS ty,
       count(*) AS n_burned, {SR('sum(o_totalprice)', 2)} AS burn_sum
FROM px GROUP BY 1, 2""",
)
def q_rasterize_points(spark, sf_dir):
    """Vector→raster point burn (alg/llrasterize.cpp:230-395 point burn with
    MERGE_ALG=ADD): points land in z6 pixels, aggregated per tile. The burn
    is one groupBy shuffle; pixel indexing uses the warp-nearest epsilon."""
    pts = order_points(spark, sf_dir)
    mx, my = TM.lonlat_to_meters(F.col("lon"), F.col("lat"))
    res = 2 * TM.ORIGIN_SHIFT / ((1 << Z_BURN) * 256)
    max_px = (1 << Z_BURN) * 256 - 1
    gx = F.least(
        F.lit(max_px),
        F.greatest(F.lit(0), F.floor((mx + F.lit(TM.ORIGIN_SHIFT)) / F.lit(res) + F.lit(1e-10))),
    ).cast("long")
    gy = F.least(
        F.lit(max_px),
        F.greatest(F.lit(0), F.floor((F.lit(TM.ORIGIN_SHIFT) - my) / F.lit(res) + F.lit(1e-10))),
    ).cast("long")
    return (
        pts.select(
            "o_totalprice",
            (gx / 256).cast("int").alias("tx"),
            (gy / 256).cast("int").alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(
            F.count(F.lit(1)).alias("n_burned"),
            R(F.sum("o_totalprice"), 2).alias("burn_sum"),
        )
    )


# ===========================================================================
# 8. Cubic resampling (completes the warp trio: near / bilinear / cubic)
# ===========================================================================

def _sql_cubic_w(t_expr: str, tap: int) -> str:
    ax = f"abs(({t_expr}) - {float(tap)!r})"
    inner = f"((1.5::double * ({ax}) - 2.5::double) * ({ax}) * ({ax}) + 1.0::double)"
    outer = f"(-0.5::double * (((({ax}) - 5.0::double) * ({ax}) + 8.0::double) * ({ax}) - 4.0::double))"
    return (
        f"(CASE WHEN ({ax}) < 1.0::double THEN {inner} "
        f"WHEN ({ax}) < 2.0::double THEN {outer} ELSE 0.0::double END)"
    )


def _sql_cubic_val() -> str:
    gx, gy = _sql_global_px(sql_lon("o_orderkey"), sql_lat("o_orderkey"))
    ix0 = f"floor(({gx}) - 0.5)"
    iy0 = f"floor(({gy}) - 0.5)"
    wx = f"(({gx}) - 0.5 - ({ix0}))"
    wy = f"(({gy}) - 0.5 - ({iy0}))"
    terms = []
    for dy in (-1, 0, 1, 2):
        for dx in (-1, 0, 1, 2):
            cx = f"least({_MAXPX}, greatest(0, ({ix0}) + {dx}))::bigint"
            cy = f"least({_MAXPX}, greatest(0, ({iy0}) + {dy}))::bigint"
            w = f"({_sql_cubic_w(wx, dx)}) * ({_sql_cubic_w(wy, dy)})"
            terms.append(f"({w}) * ({TL.sql_pixel_value(cx, cy, '1')})")
    return SR(" + ".join(terms), 6)


@register(
    "raster_sample_cubic",
    f"SELECT o_orderkey, {_sql_cubic_val()} AS cubic_val FROM orders",
)
def q_raster_sample_cubic(spark, sf_dir):
    """Warp-cubic sampling (Catmull-Rom A=-0.5, gdalwarpkernel.cpp GWKCubic):
    16-tap separable kernel over the closed-form world raster."""
    pts = order_points(spark, sf_dir)
    raster = TL.synthetic_raster(spark, Z_RASTER, bands=1)
    out = TL.sample_cubic(pts, raster, Z_RASTER, band=1, point_id="o_orderkey")
    return out.withColumn("cubic_val", R("cubic_val", 6))


def _wkt_values() -> str:
    rows = []
    for rec in polygon_records():
        w = G.wkt_polygon(G.rings_to_numpy(rec["rings"]))
        rows.append(f"({rec['poly_id']}, '{w}')")
    return "VALUES " + ", ".join(rows)


@register(
    "geom_wkt",
    f"""WITH w(poly_id, wkt) AS ({_wkt_values()})
SELECT poly_id, wkt, length(wkt) AS wkt_len FROM w""",
)
def q_geom_wkt(spark, sf_dir):
    """OGR_GEOM_WKT special field (ogr/ogr_p.h:169, exportToWkt): WKT
    serialized distributedly from the ring arrays; exact string parity
    against an independently generated VALUES oracle."""
    from typing import Iterator

    import pandas as pd

    p = polygons_df(spark).select("poly_id", "rings")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, wkts = [], []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                ids.append(pid)
                wkts.append(G.wkt_polygon(G.rings_to_numpy(rings)))
            yield pd.DataFrame({"poly_id": ids, "wkt": wkts})

    out = p.mapInPandas(run, "poly_id long, wkt string")
    return out.select("poly_id", "wkt", F.length("wkt").alias("wkt_len"))


@register("knn_adaptive", _knn_oracle())
def q_knn_adaptive(spark, sf_dir):
    """Expanding k-ring kNN (the reference's expanding quadtree window,
    gdalgrid.cpp:905+) — exact against the same oracle as knn_exact: rings
    grow per query until k candidates plus a Mercator-aware safety margin."""
    pts = order_points(spark, sf_dir)
    queries = pts.filter(F.expr(KNN_PRED)).select(
        F.col("o_orderkey").alias("query_id"), "lon", "lat"
    )
    out = KNN.knn_cell_join_adaptive(
        pts, queries, k=KNN_K, zoom=4, max_ring=64, point_id="o_orderkey"
    )
    return out.withColumn("dist_m", R("dist_m", 3))


Z_HILBERT = 8


def _sql_hilbert_oracle() -> str:
    from gdal_spark.spatial import tilemath as _TM
    from gdal_spark.data.geotag import sql_lon as _slon, sql_lat as _slat

    tx = _TM.sql_tile_x(_slon("o_orderkey"), Z_HILBERT)
    ty = _TM.sql_tile_y_xyz(_slat("o_orderkey"), Z_HILBERT)
    # vectorized CTE chain: each level rewrites (x, y, d) for ALL rows --
    # a per-row correlated scalar subquery form is pathologically slow
    return f"""WITH keyed AS (
  SELECT o_orderkey, ({tx}) AS tx, ({ty}) AS ty,
         ({tx})::bigint AS x, ({ty})::bigint AS y, 0::bigint AS d
  FROM orders),
lvl0 AS (SELECT o_orderkey, tx, ty, (CASE WHEN (CASE WHEN (y & 128) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 128) > 0 THEN 1 ELSE 0 END) = 1 THEN 127 - y ELSE y END) ELSE x END) AS x, (CASE WHEN (CASE WHEN (y & 128) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 128) > 0 THEN 1 ELSE 0 END) = 1 THEN 127 - x ELSE x END) ELSE y END) AS y, d + 128::bigint * 128::bigint * xor(3 * (CASE WHEN (x & 128) > 0 THEN 1 ELSE 0 END), (CASE WHEN (y & 128) > 0 THEN 1 ELSE 0 END)) AS d FROM keyed),
lvl1 AS (SELECT o_orderkey, tx, ty, (CASE WHEN (CASE WHEN (y & 64) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 64) > 0 THEN 1 ELSE 0 END) = 1 THEN 63 - y ELSE y END) ELSE x END) AS x, (CASE WHEN (CASE WHEN (y & 64) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 64) > 0 THEN 1 ELSE 0 END) = 1 THEN 63 - x ELSE x END) ELSE y END) AS y, d + 64::bigint * 64::bigint * xor(3 * (CASE WHEN (x & 64) > 0 THEN 1 ELSE 0 END), (CASE WHEN (y & 64) > 0 THEN 1 ELSE 0 END)) AS d FROM lvl0),
lvl2 AS (SELECT o_orderkey, tx, ty, (CASE WHEN (CASE WHEN (y & 32) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 32) > 0 THEN 1 ELSE 0 END) = 1 THEN 31 - y ELSE y END) ELSE x END) AS x, (CASE WHEN (CASE WHEN (y & 32) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 32) > 0 THEN 1 ELSE 0 END) = 1 THEN 31 - x ELSE x END) ELSE y END) AS y, d + 32::bigint * 32::bigint * xor(3 * (CASE WHEN (x & 32) > 0 THEN 1 ELSE 0 END), (CASE WHEN (y & 32) > 0 THEN 1 ELSE 0 END)) AS d FROM lvl1),
lvl3 AS (SELECT o_orderkey, tx, ty, (CASE WHEN (CASE WHEN (y & 16) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 16) > 0 THEN 1 ELSE 0 END) = 1 THEN 15 - y ELSE y END) ELSE x END) AS x, (CASE WHEN (CASE WHEN (y & 16) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 16) > 0 THEN 1 ELSE 0 END) = 1 THEN 15 - x ELSE x END) ELSE y END) AS y, d + 16::bigint * 16::bigint * xor(3 * (CASE WHEN (x & 16) > 0 THEN 1 ELSE 0 END), (CASE WHEN (y & 16) > 0 THEN 1 ELSE 0 END)) AS d FROM lvl2),
lvl4 AS (SELECT o_orderkey, tx, ty, (CASE WHEN (CASE WHEN (y & 8) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 8) > 0 THEN 1 ELSE 0 END) = 1 THEN 7 - y ELSE y END) ELSE x END) AS x, (CASE WHEN (CASE WHEN (y & 8) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 8) > 0 THEN 1 ELSE 0 END) = 1 THEN 7 - x ELSE x END) ELSE y END) AS y, d + 8::bigint * 8::bigint * xor(3 * (CASE WHEN (x & 8) > 0 THEN 1 ELSE 0 END), (CASE WHEN (y & 8) > 0 THEN 1 ELSE 0 END)) AS d FROM lvl3),
lvl5 AS (SELECT o_orderkey, tx, ty, (CASE WHEN (CASE WHEN (y & 4) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 4) > 0 THEN 1 ELSE 0 END) = 1 THEN 3 - y ELSE y END) ELSE x END) AS x, (CASE WHEN (CASE WHEN (y & 4) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 4) > 0 THEN 1 ELSE 0 END) = 1 THEN 3 - x ELSE x END) ELSE y END) AS y, d + 4::bigint * 4::bigint * xor(3 * (CASE WHEN (x & 4) > 0 THEN 1 ELSE 0 END), (CASE WHEN (y & 4) > 0 THEN 1 ELSE 0 END)) AS d FROM lvl4),
lvl6 AS (SELECT o_orderkey, tx, ty, (CASE WHEN (CASE WHEN (y & 2) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 2) > 0 THEN 1 ELSE 0 END) = 1 THEN 1 - y ELSE y END) ELSE x END) AS x, (CASE WHEN (CASE WHEN (y & 2) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 2) > 0 THEN 1 ELSE 0 END) = 1 THEN 1 - x ELSE x END) ELSE y END) AS y, d + 2::bigint * 2::bigint * xor(3 * (CASE WHEN (x & 2) > 0 THEN 1 ELSE 0 END), (CASE WHEN (y & 2) > 0 THEN 1 ELSE 0 END)) AS d FROM lvl5),
lvl7 AS (SELECT o_orderkey, tx, ty, (CASE WHEN (CASE WHEN (y & 1) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 1) > 0 THEN 1 ELSE 0 END) = 1 THEN 0 - y ELSE y END) ELSE x END) AS x, (CASE WHEN (CASE WHEN (y & 1) > 0 THEN 1 ELSE 0 END) = 0 THEN (CASE WHEN (CASE WHEN (x & 1) > 0 THEN 1 ELSE 0 END) = 1 THEN 0 - x ELSE x END) ELSE y END) AS y, d + 1::bigint * 1::bigint * xor(3 * (CASE WHEN (x & 1) > 0 THEN 1 ELSE 0 END), (CASE WHEN (y & 1) > 0 THEN 1 ELSE 0 END)) AS d FROM lvl6)
SELECT o_orderkey, tx, ty, d AS hilbert,
       row_number() OVER (ORDER BY d, o_orderkey) AS pos
FROM lvl7 ORDER BY d, o_orderkey LIMIT 200"""


@register("hilbert_sort", _sql_hilbert_oracle())
def q_hilbert_sort(spark, sf_dir):
    """Hilbert-curve spatial sort key (alg/hilbert.cpp:22; the `gdal vector
    sort` geometry order, gdalalg_vector_sort.cpp:371, and FlatGeobuf's
    packed-R-tree key, packedrtree.cpp:73-132) — xy2d as pure integer
    column math, bit-identical to the SQL mirror; position via the
    distributed range-partition rank (no single-partition window)."""
    from gdal_spark.operators.curve_sort import curve_rank

    pts = TL.assign_tiles(
        order_points(spark, sf_dir), Z_HILBERT, with_quadkey=False
    )
    coded = pts.withColumn(
        "hilbert", TM.hilbert_d(F.col("tx"), F.col("ty"), Z_HILBERT)
    )
    ranked = curve_rank(
        coded.select("o_orderkey", "tx", "ty", "hilbert"),
        "hilbert", "o_orderkey",
    )
    return ranked.orderBy("hilbert", "o_orderkey").limit(200)


@register(
    "raster_overview_nearest",
    f"""WITH gs AS (SELECT unnest(generate_series(0, 255)) AS i),
t AS (SELECT unnest(generate_series(0, 1)) AS v)
SELECT tx.v AS tx, ty.v AS ty, 1 AS band,
       {SR('avg(cast((((tx.v * 256 + gx.i) * 2) * 31 + ((ty.v * 256 + gy.i) * 2) * 17 + 7) % 256 AS double))', 6)} AS mean_val
FROM t tx CROSS JOIN t ty CROSS JOIN gs gx CROSS JOIN gs gy
GROUP BY tx.v, ty.v""",
)
def q_raster_overview_nearest(spark, sf_dir):
    """Nearest-decimation overview (gcore/overview.cpp:81-165 near kernel):
    dst pixel samples src (2i, 2j); verified via the closed-form world
    raster — dst tile (tx, ty) at z1 averages src pixels (2·gpx, 2·gpy)."""
    base = TL.synthetic_raster(spark, zoom=2, bands=1)
    z1 = TL.overview_level(base, tile_size=256, stat="nearest")
    mean = F.aggregate(
        F.col("data"), F.lit(0.0), lambda a, v: a + v
    ) / F.size("data")
    return z1.select("tx", "ty", "band", R(mean, 6).alias("mean_val"))


# ===========================================================================
# 8. Polygon↔polygon predicates + clip (ogrgeometry.cpp:571,6002-6402;
#    ogrlayer.cpp:7538 Clip) — round 2
# ===========================================================================

from gdal_spark.data.pages import polygon_records_b, polygons_b_df  # noqa: E402
from gdal_spark.operators import poly_join as PJ  # noqa: E402


def _envelope_values(recs, id_name: str) -> str:
    rows = [
        f"({rec['poly_id']}, {rec['xmin']!r}::double, {rec['ymin']!r}::double, "
        f"{rec['xmax']!r}::double, {rec['ymax']!r}::double)"
        for rec in recs
    ]
    return "VALUES " + ", ".join(rows)


def _sql_poly_predicates() -> str:
    """Interval-arithmetic oracle over the axis-rect layers: every predicate
    of two axis-aligned rectangles is closed-form in the envelope bounds —
    fully independent of the engine's orientation/ray-cast kernel. The
    non-rect A polygons (hexagon/L/hole/far) are envelope-disjoint from
    every B box by fixture construction, so restricting the oracle to the
    64 mosaic rects is exact."""
    a_vals = _envelope_values(polygon_records()[:64], "id_a")
    b_vals = _envelope_values(polygon_records_b(), "id_b")
    return f"""
WITH a(id_a, axmin, aymin, axmax, aymax) AS ({a_vals}),
b(id_b, bxmin, bymin, bxmax, bymax) AS ({b_vals}),
j AS (
  SELECT id_a, id_b,
         least(axmax, bxmax) - greatest(axmin, bxmin) AS xo,
         least(aymax, bymax) - greatest(aymin, bymin) AS yo,
         (axmin <= bxmin AND bxmax <= axmax
          AND aymin <= bymin AND bymax <= aymax) AS c_ab,
         (bxmin <= axmin AND axmax <= bxmax
          AND bymin <= aymin AND aymax <= bymax) AS c_ba
  FROM a CROSS JOIN b)
SELECT id_a, id_b,
       true AS intersects,
       (xo = 0 OR yo = 0) AS touches,
       (xo > 0 AND yo > 0 AND NOT c_ab AND NOT c_ba) AS overlaps,
       c_ab AS "contains",
       c_ba AS within,
       (c_ab AND c_ba) AS equals
FROM j WHERE xo >= 0 AND yo >= 0"""


@register("poly_predicates", _sql_poly_predicates())
def q_poly_predicates(spark, sf_dir):
    """Polygon↔polygon predicate join (Intersects/Touches/Overlaps/Contains/
    Within/Equals — ogrgeometry.cpp:571,6002-6402; autotest
    ogr/ogr_geom.py:2430-2475 case families): cell-cover equi-join with
    reference-cell dedup + exact orientation/crossing-number kernel."""
    out = PJ.poly_relate_join(polygons_df(spark), polygons_b_df(spark), zoom=5)
    return out.filter(F.col("intersects"))


# Clip window: overlaps the mosaic partially, cuts the L-shape bottom and
# the hole-polygon's right side; excludes the hexagon and far rects.
# Bounds use .x7 offsets so no coordinate ever equals a polygon bound.
CLIP_W = (-1.50007, 30.50007, 45.00007, 47.00007)


def _clip_parts_values() -> str:
    """Signed axis-rect decomposition of every clippable fixture polygon:
    mosaic rect → itself; L-shape → two disjoint rects; hole polygon →
    outer (+1) and hole (−1); far rects → themselves (clip to zero). The
    hexagon is excluded by the window (zero overlap). Clipped area is then
    Σ sgn · interval-overlap-area — independent of Sutherland–Hodgman."""
    rows = []
    for rec in polygon_records()[:64]:
        rows.append((rec["poly_id"], 1, rec["xmin"], rec["ymin"],
                     rec["xmax"], rec["ymax"]))
    x0, y0, w, h = 30.00003, 30.00003, 4.0, 4.0  # _l_shape(65)
    rows.append((65, 1, x0, y0, x0 + w, y0 + h / 2))
    rows.append((65, 1, x0, y0 + h / 2, x0 + w / 2, y0 + h))
    rows.append((66, 1, 40.00003, 40.00003, 48.00003, 46.00003))
    rows.append((66, -1, 42.00003, 42.00003, 44.00003, 44.00003))
    for rec in polygon_records()[67:]:
        rows.append((rec["poly_id"], 1, rec["xmin"], rec["ymin"],
                     rec["xmax"], rec["ymax"]))
    vals = ", ".join(
        f"({pid}, {sgn}, {xmn!r}::double, {ymn!r}::double, "
        f"{xmx!r}::double, {ymx!r}::double)"
        for pid, sgn, xmn, ymn, xmx, ymx in rows
    )
    return "VALUES " + vals


def _sql_clip_rect() -> str:
    wx0, wy0, wx1, wy1 = CLIP_W
    area = (
        f"greatest(0.0, least(pxmax, {wx1!r}) - greatest(pxmin, {wx0!r})) * "
        f"greatest(0.0, least(pymax, {wy1!r}) - greatest(pymin, {wy0!r}))"
    )
    return f"""
WITH parts(poly_id, sgn, pxmin, pymin, pxmax, pymax) AS ({_clip_parts_values()}),
c AS (SELECT poly_id, sgn, {area} AS a FROM parts)
SELECT poly_id,
       (CASE WHEN poly_id = 66 THEN 2 ELSE 1 END)::int AS n_rings,
       {SR('sum(sgn * a)', 6)} AS clip_area
FROM c GROUP BY poly_id HAVING sum(sgn * a) > 0"""


@register("clip_rect", _sql_clip_rect())
def q_clip_rect(spark, sf_dir):
    """Rectangle clip (OGRLayer::Clip MVP, ogrlayer.cpp:7538 /
    apps/gdalalg_vector_clip.cpp): Sutherland–Hodgman over ring arrays,
    envelope prefilter as a pushdown-friendly column predicate."""
    out = PJ.clip_to_rect(polygons_df(spark), *CLIP_W)
    return out.select(
        F.col("id").alias("poly_id"), "n_rings", R("clip_area", 6).alias("clip_area")
    )


# ===========================================================================
# 9. True dissolve — per-key geometry union of the mosaic coverage
#    (apps/gdalalg_vector_dissolve.cpp; ogrgeometry.cpp:5430 Union)
# ===========================================================================

from gdal_spark.operators import dissolve as DV  # noqa: E402


def _mosaic_topology() -> dict[int, tuple[int, int]]:
    """INDEPENDENT topology oracle: per eas_id, (n_parts, n_rings) of the
    union of its 8×8-grid cells, by 4-adjacency connected components + a
    flood fill of the padded complement (holes = enclosed complement
    components). Pure integer grid work — shares no code with the engine's
    edge-cancellation ring tracer."""
    cells_by_eas: dict[int, set[tuple[int, int]]] = {}
    for rec in polygon_records()[:64]:
        pid = rec["poly_id"]
        cells_by_eas.setdefault(rec["eas_id"], set()).add((pid % 8, pid // 8))
    out = {}
    for eas, cells in cells_by_eas.items():
        # components (4-adjacency)
        seen: set[tuple[int, int]] = set()
        parts = 0
        for c in cells:
            if c in seen:
                continue
            parts += 1
            stack = [c]
            seen.add(c)
            while stack:
                x, y = stack.pop()
                for nb in ((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)):
                    if nb in cells and nb not in seen:
                        seen.add(nb)
                        stack.append(nb)
        # holes: complement components of a padded bounding grid that do
        # not touch the outside border
        comp = {
            (x, y)
            for x in range(-1, 9)
            for y in range(-1, 9)
            if (x, y) not in cells
        }
        outside: set[tuple[int, int]] = set()
        stack = [(-1, -1)]
        outside.add((-1, -1))
        while stack:
            x, y = stack.pop()
            for nb in ((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)):
                if nb in comp and nb not in outside and -1 <= nb[0] <= 8 \
                        and -1 <= nb[1] <= 8:
                    outside.add(nb)
                    stack.append(nb)
        enclosed = comp - outside
        holes = 0
        seen2: set[tuple[int, int]] = set()
        for c in enclosed:
            if c in seen2:
                continue
            holes += 1
            stack = [c]
            seen2.add(c)
            while stack:
                x, y = stack.pop()
                for nb in ((x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)):
                    if nb in enclosed and nb not in seen2:
                        seen2.add(nb)
                        stack.append(nb)
        out[eas] = (parts, parts + holes)
    return out


def _sql_dissolve_union() -> str:
    cell_vals = ", ".join(
        f"({rec['eas_id']}, {rec['xmin']!r}::double, {rec['ymin']!r}::double, "
        f"{rec['xmax']!r}::double, {rec['ymax']!r}::double)"
        for rec in polygon_records()[:64]
    )
    topo_vals = ", ".join(
        f"({eas}, {p}, {r})" for eas, (p, r) in sorted(_mosaic_topology().items())
    )
    return f"""
WITH cells(eas_id, cxmin, cymin, cxmax, cymax) AS (VALUES {cell_vals}),
agg AS (
  SELECT eas_id, count(*) AS n_src,
         sum((cxmax - cxmin) * (cymax - cymin)) AS ua
  FROM cells GROUP BY eas_id),
topo(eas_id, n_parts, n_rings) AS (VALUES {topo_vals})
SELECT a.eas_id, a.n_src, {SR('a.ua', 6)} AS union_area,
       t.n_parts::int AS n_parts, t.n_rings::int AS n_rings
FROM agg a JOIN topo t USING (eas_id)"""


@register("dissolve_union", _sql_dissolve_union())
def q_dissolve_union(spark, sf_dir):
    """TRUE dissolve over the mosaic coverage: per-eas_id geometric union
    via boundary edge-cancellation + leftmost-turn ring tracing (exact for
    edge-matched coverages). Oracle checks merged area (interval SQL) AND
    topology (independent grid flood-fill): parts and rings, not envelopes.
    """
    p = polygons_df(spark).filter(F.col("poly_id") < 64)
    out = DV.dissolve_union(p, key="eas_id")
    return out.withColumn("union_area", R("union_area", 6))


# ===========================================================================
# 10. Base-tile render (gdal2tiles.py:838-928 create_base_tile +
#     scale_query_to_tile; oracle family of test_gdal2tiles.py:101-148)
# ===========================================================================

_RB_TS = 64        # tile size for the render gates (keeps oracles fast)
_RB_ZSRC = 3
_RB_ZDST = 1
_RB_R = 1 << (_RB_ZSRC - _RB_ZDST)  # 4
_RB_SPOT = (21, 33)  # (px, py) spot-checked dst pixel


def _rb_pixel(gpx: str, gpy: str) -> str:
    return TL.sql_pixel_value(gpx, gpy, "1")


def _sql_render_base_average() -> str:
    ts, r = _RB_TS, _RB_R
    w = ts * r  # source window size per dst tile (256)
    sx, sy = _RB_SPOT
    return f"""
WITH d AS (SELECT unnest(generate_series(0, 1)) AS v),
gs AS (SELECT unnest(generate_series(0, {w - 1})) AS i),
b AS (SELECT unnest(generate_series(0, {r - 1})) AS k),
m AS (
  SELECT dx.v AS tx, dy.v AS ty,
         avg({_rb_pixel(f'dx.v * {w} + gx.i', f'dy.v * {w} + gy.i')}) AS mv
  FROM d dx CROSS JOIN d dy CROSS JOIN gs gx CROSS JOIN gs gy
  GROUP BY dx.v, dy.v),
p0 AS (
  SELECT dx.v AS tx, dy.v AS ty,
         avg({_rb_pixel(f'dx.v * {w} + ka.k', f'dy.v * {w} + kb.k')}) AS v00
  FROM d dx CROSS JOIN d dy CROSS JOIN b ka CROSS JOIN b kb
  GROUP BY dx.v, dy.v),
ps AS (
  SELECT dx.v AS tx, dy.v AS ty,
         avg({_rb_pixel(f'dx.v * {w} + {sx * r} + ka.k', f'dy.v * {w} + {sy * r} + kb.k')}) AS vs
  FROM d dx CROSS JOIN d dy CROSS JOIN b ka CROSS JOIN b kb
  GROUP BY dx.v, dy.v)
SELECT m.tx, m.ty, 1 AS band, {SR('m.mv', 6)} AS mean_val,
       {SR('p0.v00', 6)} AS p00, {SR('ps.vs', 6)} AS p_spot
FROM m JOIN p0 USING (tx, ty) JOIN ps USING (tx, ty)"""


def _rb_engine_select(out):
    mean = F.aggregate(F.col("data"), F.lit(0.0), lambda a, v: a + v) / F.size(
        "data"
    )
    sx, sy = _RB_SPOT
    return out.select(
        "tx", "ty", "band",
        R(mean, 6).alias("mean_val"),
        R(F.element_at("data", 1), 6).alias("p00"),
        R(F.element_at("data", sy * _RB_TS + sx + 1), 6).alias("p_spot"),
    )


def _png_golden_rows() -> list[tuple]:
    """Golden PNG checksums for the 2×2 z1 render, computed by a LOCAL
    numpy mirror (direct full-grid evaluation of the closed-form pixel
    function + block mean — no Spark, no gather/applyInPandas path). The
    reference's oracle family is exactly this: inline expected checksums of
    emitted tiles (autotest/pyscripts/test_gdal2tiles.py:101-148). The
    pixel VALUES feeding the PNG are independently oracle-verified by
    tile_render_base; raw_crc is the zlib-build-independent spec-defined
    scanline crc; png_md5/png_len additionally pin the full byte stream."""
    import hashlib

    from gdal_spark.functions import png as PNGF

    ts, r = _RB_TS, _RB_R
    w = ts * r
    rows = []
    for ty in range(2):
        for tx in range(2):
            yy, xx = np.mgrid[0:w, 0:w]
            src = TL.pixel_value(tx * w + xx, ty * w + yy, 1)
            img = PNGF.quantize_u8(
                src.reshape(ts, r, ts, r).mean(axis=(1, 3))
            )
            png = PNGF.encode_png_gray8(img)
            rows.append(
                (tx, ty, hashlib.md5(png).hexdigest(),
                 PNGF.raw_crc32_gray8(img), len(png))
            )
    return rows


def _sql_tile_render_png() -> str:
    vals = ", ".join(
        f"({tx}, {ty}, '{md5}', {crc}::bigint, {ln})"
        for tx, ty, md5, crc, ln in _png_golden_rows()
    )
    return (
        "SELECT tx, ty, png_md5, raw_crc, png_len FROM (VALUES "
        + vals + ") AS t(tx, ty, png_md5, raw_crc, png_len)"
    )


@register("tile_render_png", _sql_tile_render_png())
def q_tile_render_png(spark, sf_dir):
    """PNG tile-BYTE oracle (VERDICT r2 #7): render the z1 base tiles,
    quantize to uint8, encode each to a deterministic grayscale PNG
    (functions/png.py — filter 0, single IDAT, zlib level 9) and gate the
    md5 of the emitted bytes + the spec-defined raw-scanline crc32 + byte
    length, mirroring test_gdal2tiles.py's per-tile checksum style."""
    import hashlib

    from gdal_spark.functions import png as PNGF

    base = TL.synthetic_raster(
        spark, zoom=_RB_ZSRC, bands=1, tile_size=_RB_TS,
        tx_range=(0, 7), ty_range=(0, 7),
    )
    out = TL.render_base_tiles(base, _RB_ZSRC, _RB_ZDST, "average", _RB_TS)

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            txs, tys, md5s, crcs, lens = [], [], [], [], []
            for tx, ty, data, w_, h_ in zip(
                pdf["tx"], pdf["ty"], pdf["data"], pdf["width"], pdf["height"]
            ):
                img = PNGF.quantize_u8(
                    np.asarray(data, dtype=np.float64).reshape(h_, w_)
                )
                png = PNGF.encode_png_gray8(img)
                txs.append(int(tx))
                tys.append(int(ty))
                md5s.append(hashlib.md5(png).hexdigest())
                crcs.append(PNGF.raw_crc32_gray8(img))
                lens.append(len(png))
            yield pd.DataFrame(
                {
                    "tx": pd.Series(txs, dtype="int32"),
                    "ty": pd.Series(tys, dtype="int32"),
                    "png_md5": md5s,
                    "raw_crc": pd.Series(crcs, dtype="int64"),
                    "png_len": pd.Series(lens, dtype="int32"),
                }
            )

    return out.mapInPandas(
        enc, "tx int, ty int, png_md5 string, raw_crc long, png_len int"
    )


@register("tile_render_base", _sql_render_base_average())
def q_tile_render_base(spark, sf_dir):
    """Base-tile render, AVERAGE resampling: z1 tiles rendered from the z3
    source in one gather (gdal2tiles create_base_tile + scale_query_to_tile,
    average kernel = overview.cpp:1214). Gated on per-tile mean + two exact
    pixel-block values (window-math check)."""
    base = TL.synthetic_raster(
        spark, zoom=_RB_ZSRC, bands=1, tile_size=_RB_TS,
        tx_range=(0, 7), ty_range=(0, 7),
    )
    out = TL.render_base_tiles(base, _RB_ZSRC, _RB_ZDST, "average", _RB_TS)
    return _rb_engine_select(out)


def _sql_render_base_bilinear() -> str:
    ts, r = _RB_TS, _RB_R
    w = ts * r
    sx, sy = _RB_SPOT

    # warp-bilinear at dst center: src = (i+0.5)*r, i0 = floor(src-0.5) =
    # r*i + r/2 - 1, weight = 0.5 for even r — each dst pixel is the mean of
    # its 2×2 source neighborhood at offset r/2-1 (no edge clamp for r=4).
    def bil(i_expr: str, j_expr: str, t0: str, t1: str) -> str:
        a = f"({t0} + {r} * ({i_expr}) + {r // 2 - 1})"
        b_ = f"({t1} + {r} * ({j_expr}) + {r // 2 - 1})"
        return (
            f"(({_rb_pixel(a, b_)}) + ({_rb_pixel(a + ' + 1', b_)}) + "
            f"({_rb_pixel(a, b_ + ' + 1')}) + ({_rb_pixel(a + ' + 1', b_ + ' + 1')})) / 4.0"
        )

    return f"""
WITH d AS (SELECT unnest(generate_series(0, 1)) AS v),
gs AS (SELECT unnest(generate_series(0, {ts - 1})) AS i),
m AS (
  SELECT dx.v AS tx, dy.v AS ty,
         avg({bil('gx.i', 'gy.i', f'dx.v * {w}', f'dy.v * {w}')}) AS mv
  FROM d dx CROSS JOIN d dy CROSS JOIN gs gx CROSS JOIN gs gy
  GROUP BY dx.v, dy.v)
SELECT tx, ty, 1 AS band, {SR('mv', 6)} AS mean_val,
       {SR(bil('0', '0', f'tx * {w}', f'ty * {w}'), 6)} AS p00,
       {SR(bil(str(sx), str(sy), f'tx * {w}', f'ty * {w}'), 6)} AS p_spot
FROM m"""


@register("tile_render_bilinear", _sql_render_base_bilinear())
def q_tile_render_bilinear(spark, sf_dir):
    """Base-tile render, BILINEAR resampling (scale_query_to_tile with the
    gdalwarp bilinear convention, gdalwarpkernel.cpp:2952-3010)."""
    base = TL.synthetic_raster(
        spark, zoom=_RB_ZSRC, bands=1, tile_size=_RB_TS,
        tx_range=(0, 7), ty_range=(0, 7),
    )
    out = TL.render_base_tiles(base, _RB_ZSRC, _RB_ZDST, "bilinear", _RB_TS)
    return _rb_engine_select(out)


# ===========================================================================
# 11. MultiPolygon through the PIP path (ogrmultipolygon part explode;
#     per-part ring tests ogrcurvepolygon.cpp:810-867)
# ===========================================================================

from gdal_spark.data.pages import multipolygon_records, multipolygons_df  # noqa: E402


def _mp_segment_values() -> str:
    """Segments of every ring of every part. Even-odd parity across ALL
    rings of a multipolygon = inside some part (parts disjoint, holes CW)."""
    rows = []
    for rec in multipolygon_records():
        for part in rec["rings"]:
            for ring in part:
                arr = np.asarray(ring, dtype=np.float64)
                for i in range(1, arr.shape[0]):
                    px_, py_ = arr[i - 1]
                    cx_, cy_ = arr[i]
                    rows.append(
                        f"({rec['poly_id']}, {px_!r}::double, {py_!r}::double, "
                        f"{cx_!r}::double, {cy_!r}::double)"
                    )
    return "VALUES " + ", ".join(rows)


_MP_ORACLE = f"""
WITH pts AS ({SQL_POINTS}),
seg(poly_id, x2a, y2a, x1a, y1a) AS ({_mp_segment_values()}),
cross_counts AS (
  SELECT p.o_orderkey, s.poly_id,
         sum(CASE WHEN (((s.y1a - p.lat) > 0 AND (s.y2a - p.lat) <= 0)
                     OR ((s.y2a - p.lat) > 0 AND (s.y1a - p.lat) <= 0))
                  AND ((s.x1a - p.lon) * (s.y2a - p.lat)
                     - (s.x2a - p.lon) * (s.y1a - p.lat))
                      / ((s.y2a - p.lat) - (s.y1a - p.lat)) > 0
             THEN 1 ELSE 0 END) AS n_cross
  FROM pts p CROSS JOIN seg s
  GROUP BY p.o_orderkey, s.poly_id)
SELECT o_orderkey, min(poly_id) AS poly_id
FROM cross_counts WHERE n_cross % 2 = 1 GROUP BY o_orderkey"""


@register("pip_multipolygon", _MP_ORACLE)
def q_pip_multipolygon(spark, sf_dir):
    """PIP join against MULTIPOLYGON features: the index explodes parts
    internally (same feature id), first-match stays per-feature; one part
    carries a hole. Broadcast map-only plan, same as pip_broadcast."""
    pts = order_points(spark, sf_dir)
    joined = PIP.pip_join(pts, multipolygons_df(spark), first_match=True)
    return joined.select("o_orderkey", "poly_id")


# ===========================================================================
# 12. True measures (ring perimeter, point→geometry distance;
#     ogrgeometry.cpp:3811 Distance / OGR_G_Length) and the gdalgrid
#     data-metrics menu (alg/gdalgrid.cpp:630-1956)
# ===========================================================================

def _seg_len_sql() -> str:
    return "sqrt((x1a - x2a) * (x1a - x2a) + (y1a - y2a) * (y1a - y2a))"


@register(
    "geom_length",
    f"""WITH seg(poly_id, x2a, y2a, x1a, y1a) AS ({_segment_values()})
SELECT poly_id, {SR(f'sum({_seg_len_sql()})', 6)} AS perimeter
FROM seg GROUP BY poly_id""",
)
def q_geom_length(spark, sf_dir):
    """TRUE Length measure: Σ ring perimeters (exterior + holes) — replaces
    the round-1 envelope-perimeter stand-in (OGR_G_Length semantics,
    ogrcurve Length; geodesic variant in ogrsqlitesqlfunctions.cpp:627-681).
    Segment lengths summed in ring order for float parity with the oracle."""
    from typing import Iterator

    import pandas as pd

    p = polygons_df(spark).select("poly_id", "rings")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, per = [], []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                total = 0.0
                for ring in G.rings_to_numpy(rings):
                    d = ring[1:] - ring[:-1]
                    # sequential sum — same association as SQL sum()
                    for v in np.sqrt(d[:, 0] ** 2 + d[:, 1] ** 2):
                        total += float(v)
                ids.append(pid)
                per.append(total)
            yield pd.DataFrame({"poly_id": ids, "perimeter": per})

    out = p.mapInPandas(run, "poly_id long, perimeter double")
    return out.select("poly_id", R("perimeter", 6).alias("perimeter"))


_DIST_PID = 64  # hexagon — non-trivial boundary


def _hex_seg_values() -> str:
    rec = [r for r in polygon_records() if r["poly_id"] == _DIST_PID][0]
    rows = []
    for ring in rec["rings"]:
        arr = np.asarray(ring, dtype=np.float64)
        for i in range(1, arr.shape[0]):
            rows.append(
                f"({arr[i - 1, 0]!r}::double, {arr[i - 1, 1]!r}::double, "
                f"{arr[i, 0]!r}::double, {arr[i, 1]!r}::double)"
            )
    return "VALUES " + ", ".join(rows)


@register(
    "geom_point_distance",
    f"""WITH pts AS ({SQL_POINTS}),
seg(ax, ay, bx, by) AS ({_hex_seg_values()}),
d AS (
  SELECT p.o_orderkey,
         min(sqrt(
           (p.lon - (ax + least(1.0, greatest(0.0,
              ((p.lon - ax) * (bx - ax) + (p.lat - ay) * (by - ay))
              / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay)))) * (bx - ax)))
           * (p.lon - (ax + least(1.0, greatest(0.0,
              ((p.lon - ax) * (bx - ax) + (p.lat - ay) * (by - ay))
              / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay)))) * (bx - ax)))
           + (p.lat - (ay + least(1.0, greatest(0.0,
              ((p.lon - ax) * (bx - ax) + (p.lat - ay) * (by - ay))
              / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay)))) * (by - ay)))
           * (p.lat - (ay + least(1.0, greatest(0.0,
              ((p.lon - ax) * (bx - ax) + (p.lat - ay) * (by - ay))
              / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay)))) * (by - ay)))
         )) AS bd
  FROM pts p CROSS JOIN seg GROUP BY p.o_orderkey),
seg2(x2a, y2a, x1a, y1a) AS ({_hex_seg_values()}),
inside AS (
  SELECT p.o_orderkey,
         sum(CASE WHEN (((s.y1a - p.lat) > 0 AND (s.y2a - p.lat) <= 0)
                     OR ((s.y2a - p.lat) > 0 AND (s.y1a - p.lat) <= 0))
                  AND ((s.x1a - p.lon) * (s.y2a - p.lat)
                     - (s.x2a - p.lon) * (s.y1a - p.lat))
                      / ((s.y2a - p.lat) - (s.y1a - p.lat)) > 0
             THEN 1 ELSE 0 END) % 2 AS par
  FROM pts p CROSS JOIN seg2 s GROUP BY p.o_orderkey)
SELECT d.o_orderkey,
       {SR('CASE WHEN i.par = 1 THEN 0.0 ELSE d.bd END', 6)} AS dist_deg
FROM d JOIN inside i USING (o_orderkey)""",
)
def q_geom_point_distance(spark, sf_dir):
    """OGR Distance(point, polygon) (ogrgeometry.cpp:3811): 0 when the
    point is inside, else min distance to the boundary — boundary segments
    broadcast, clamp-projection column math, one groupBy min."""
    rec = [r for r in polygon_records() if r["poly_id"] == _DIST_PID][0]
    seg_rows = []
    for ring in rec["rings"]:
        arr = np.asarray(ring, dtype=np.float64)
        for i in range(1, arr.shape[0]):
            seg_rows.append(
                (float(arr[i - 1, 0]), float(arr[i - 1, 1]),
                 float(arr[i, 0]), float(arr[i, 1]))
            )
    pts = order_points(spark, sf_dir)
    segdf = spark.createDataFrame(
        seg_rows, "ax double, ay double, bx double, by double"
    )
    t_raw = (
        (F.col("lon") - F.col("ax")) * (F.col("bx") - F.col("ax"))
        + (F.col("lat") - F.col("ay")) * (F.col("by") - F.col("ay"))
    ) / (
        (F.col("bx") - F.col("ax")) * (F.col("bx") - F.col("ax"))
        + (F.col("by") - F.col("ay")) * (F.col("by") - F.col("ay"))
    )
    t = F.least(F.lit(1.0), F.greatest(F.lit(0.0), t_raw))
    ddx = F.col("lon") - (F.col("ax") + t * (F.col("bx") - F.col("ax")))
    ddy = F.col("lat") - (F.col("ay") + t * (F.col("by") - F.col("ay")))
    d = F.sqrt(ddx * ddx + ddy * ddy)
    bd = (
        pts.crossJoin(F.broadcast(segdf))
        .withColumn("_d", d)
        .groupBy("o_orderkey")
        .agg(F.min("_d").alias("bd"))
    )
    hexp = polygons_df(pts.sparkSession).filter(F.col("poly_id") == _DIST_PID)
    inside = PIP.pip_join(
        pts.select("o_orderkey", "lon", "lat"), hexp, how="left"
    ).select("o_orderkey", "poly_id")
    out = bd.join(inside, "o_orderkey")
    return out.select(
        "o_orderkey",
        R(
            F.when(F.col("poly_id").isNotNull(), F.lit(0.0)).otherwise(
                F.col("bd")
            ),
            6,
        ).alias("dist_deg"),
    )


Z_GRIDM = 4


def _grid_center_sql() -> tuple[str, str]:
    res = TM.resolution(Z_GRIDM)
    cx = f"((tx::double + 0.5) * 256.0::double * {res!r}::double - {TM.ORIGIN_SHIFT!r}::double)"
    ty_tms = f"({(1 << Z_GRIDM) - 1} - ty)"
    cy = f"(({ty_tms}::double + 0.5) * 256.0::double * {res!r}::double - {TM.ORIGIN_SHIFT!r}::double)"
    clon = f"(({cx}) / {TM.ORIGIN_SHIFT!r}::double * 180.0::double)"
    clat = (
        f"(180.0::double / pi() * (2.0::double * atan(exp(({cy}) / {TM.ORIGIN_SHIFT!r}::double"
        f" * 180.0::double * pi() / 180.0::double)) - pi() / 2.0::double))"
    )
    return clon, clat


@register(
    "grid_data_metrics",
    f"""WITH pts AS (
  SELECT o_totalprice,
         {TM.sql_tile_x(sql_lon('o_orderkey'), Z_GRIDM)} AS tx,
         {TM.sql_tile_y_xyz(sql_lat('o_orderkey'), Z_GRIDM)} AS ty
  FROM orders)
SELECT tx, ty, count(*) AS n,
       {SR('min(o_totalprice)', 2)} AS min_v,
       {SR('max(o_totalprice)', 2)} AS max_v,
       {SR('max(o_totalprice) - min(o_totalprice)', 2)} AS range_v,
       {SR('avg(o_totalprice)', 2)} AS avg_v
FROM pts GROUP BY tx, ty""",
)
def q_grid_data_metrics(spark, sf_dir):
    """gdalgrid data-metrics menu (alg/gdalgrid.cpp:1059-1956:
    minimum/maximum/range/count/average-distance family, cell-windowed):
    per-node min/max/range/count/avg — one partial-agg shuffle."""
    pts = TL.assign_tiles(
        order_points(spark, sf_dir), Z_GRIDM, with_quadkey=False
    )
    return pts.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).alias("n"),
        R(F.min("o_totalprice"), 2).alias("min_v"),
        R(F.max("o_totalprice"), 2).alias("max_v"),
        R(F.max("o_totalprice") - F.min("o_totalprice"), 2).alias("range_v"),
        R(F.avg("o_totalprice"), 2).alias("avg_v"),
    )


def _sql_grid_nearest() -> str:
    clon, clat = _grid_center_sql()
    return f"""
WITH pts AS (
  SELECT o_orderkey, o_totalprice, lon, lat,
         {TM.sql_tile_x(sql_lon('o_orderkey'), Z_GRIDM)} AS tx,
         {TM.sql_tile_y_xyz(sql_lat('o_orderkey'), Z_GRIDM)} AS ty
  FROM ({SQL_POINTS})),
ranked AS (
  SELECT tx, ty, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY tx, ty
           ORDER BY (lon - {clon}) * (lon - {clon})
                  + (lat - {clat}) * (lat - {clat}), o_orderkey) AS rk
  FROM pts)
SELECT tx, ty, o_orderkey AS nearest_key,
       {SR('o_totalprice', 2)} AS nearest_price
FROM ranked WHERE rk = 1"""


@register("grid_nearest", _sql_grid_nearest())
def q_grid_nearest(spark, sf_dir):
    """GDALGridNearestNeighbor, cell-windowed (alg/gdalgrid.cpp:905): each
    grid node takes the value of its nearest point (planar metric about the
    tile center, ties by key) — window rank per tile, no cross-tile data
    movement beyond the grouping shuffle."""
    from pyspark.sql import Window

    pts = TL.assign_tiles(
        order_points(spark, sf_dir), Z_GRIDM, with_quadkey=False
    )
    res = TM.resolution(Z_GRIDM)
    cx = (F.col("tx").cast("double") + F.lit(0.5)) * F.lit(256.0) * F.lit(res) - F.lit(TM.ORIGIN_SHIFT)
    ty_tms = (F.lit((1 << Z_GRIDM) - 1) - F.col("ty")).cast("double")
    cy = (ty_tms + F.lit(0.5)) * F.lit(256.0) * F.lit(res) - F.lit(TM.ORIGIN_SHIFT)
    clon, clat = TM.meters_to_lonlat(cx, cy)
    d2 = (F.col("lon") - clon) * (F.col("lon") - clon) + (
        F.col("lat") - clat
    ) * (F.col("lat") - clat)
    w = Window.partitionBy("tx", "ty").orderBy(d2.asc(), F.col("o_orderkey").asc())
    return (
        pts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "tx", "ty",
            F.col("o_orderkey").alias("nearest_key"),
            R("o_totalprice", 2).alias("nearest_price"),
        )
    )


# ===========================================================================
# 13. Overview resampling menu (gdalwarper.h:37-67; overview.cpp:464-1074):
#     RMS / MODE / MEDIAN pyramid steps gated per-tile
# ===========================================================================

def _ov_block_sql(kernel: str) -> str:
    """Per-dst-pixel 2×2 block expression over the closed-form raster.
    gx/gy are DST global pixel indices (z1); the block reads z2 pixels
    (2gx+i, 2gy+j)."""
    vs = [
        f"cast(((2 * (tx.v * 256 + gx.i) + {i}) * 31 "
        f"+ (2 * (ty.v * 256 + gy.i) + {j}) * 17 + 7) % 256 AS double)"
        for j in (0, 1) for i in (0, 1)
    ]
    lst = "[" + ", ".join(vs) + "]"
    if kernel == "rms":
        sq = " + ".join(f"({v}) * ({v})" for v in vs)
        return f"sqrt(({sq}) / 4.0)"
    if kernel == "mode":
        mx = (
            f"list_max(list_transform({lst}, "
            f"x -> len(list_filter({lst}, y -> y = x))))"
        )
        return (
            f"list_min(list_filter({lst}, "
            f"x -> len(list_filter({lst}, y -> y = x)) = {mx}))"
        )
    if kernel == "median":
        srt = f"list_sort({lst})"
        return f"(({srt})[2] + ({srt})[3]) / 2.0"
    raise ValueError(kernel)


def _ov_stat_oracle(kernel: str) -> str:
    return f"""WITH gs AS (SELECT unnest(generate_series(0, 255)) AS i),
t AS (SELECT unnest(generate_series(0, 1)) AS v)
SELECT tx.v AS tx, ty.v AS ty, 1 AS band,
       {SR(f'avg({_ov_block_sql(kernel)})', 6)} AS mean_val
FROM t tx CROSS JOIN t ty CROSS JOIN gs gx CROSS JOIN gs gy
GROUP BY tx.v, ty.v"""


def _ov_stat_query(kernel: str):
    def q(spark, sf_dir):
        base = TL.synthetic_raster(spark, zoom=2, bands=1)
        z1 = TL.overview_level(base, tile_size=256, stat=kernel)
        mean = F.aggregate(
            F.col("data"), F.lit(0.0), lambda a, v: a + v
        ) / F.size("data")
        return z1.select("tx", "ty", "band", R(mean, 6).alias("mean_val"))

    q.__doc__ = (
        f"Overview pyramid step with the {kernel.upper()} kernel "
        "(overview.cpp:464-1074; menu gdalwarper.h:37-67)."
    )
    return q


register("raster_overview_rms", _ov_stat_oracle("rms"))(_ov_stat_query("rms"))
register("raster_overview_mode", _ov_stat_oracle("mode"))(_ov_stat_query("mode"))
register("raster_overview_median", _ov_stat_oracle("median"))(
    _ov_stat_query("median")
)


@register(
    "grid_moving_avg",
    f"""WITH pts AS (
  SELECT o_totalprice,
         {TM.sql_tile_x(sql_lon('o_orderkey'), Z_GRIDM)} AS tx,
         {TM.sql_tile_y_xyz(sql_lat('o_orderkey'), Z_GRIDM)} AS ty
  FROM orders),
offs AS (SELECT unnest(generate_series(-1, 1)) AS d),
contrib AS (
  SELECT ((p.tx + dx.d) % {1 << Z_GRIDM} + {1 << Z_GRIDM}) % {1 << Z_GRIDM} AS tx,
         p.ty + dy.d AS ty, p.o_totalprice
  FROM pts p CROSS JOIN offs dx CROSS JOIN offs dy
  WHERE p.ty + dy.d >= 0 AND p.ty + dy.d < {1 << Z_GRIDM})
SELECT tx, ty, count(*) AS n,
       {SR('avg(o_totalprice)', 2)} AS mavg
FROM contrib GROUP BY tx, ty""",
)
def q_grid_moving_avg(spark, sf_dir):
    """gdalgrid MOVING AVERAGE metric (alg/gdalgrid.cpp:630
    GDALGridMovingAverage) with a 3×3-cell search window: each point
    CONTRIBUTES to its 9 neighbouring nodes (map-side explode — the shuffle
    carries (node, value) pairs, never a per-node point list), tx wraps at
    the antimeridian, ty clips at the poles. One partial-agg shuffle."""
    pts = TL.assign_tiles(
        order_points(spark, sf_dir), Z_GRIDM, with_quadkey=False
    )
    n = 1 << Z_GRIDM
    off = F.sequence(F.lit(-1), F.lit(1))
    contrib = (
        pts.withColumn("_dx", F.explode(off))
        .withColumn("_dy", F.explode(off))
        .select(
            F.pmod(F.col("tx") + F.col("_dx"), F.lit(n)).alias("tx"),
            (F.col("ty") + F.col("_dy")).alias("ty"),
            "o_totalprice",
        )
        .filter((F.col("ty") >= 0) & (F.col("ty") < n))
    )
    return contrib.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).alias("n"),
        R(F.avg("o_totalprice"), 2).alias("mavg"),
    )


# ===========================================================================
# 14. Overlay family MVP: layer Intersection / Erase vs an axis-rect layer
#     (ogrlayer.cpp:5386 Intersection, :7847 Erase)
# ===========================================================================

_ERASE_B_IDS = (1001, 1006, 1009)  # mutually disjoint probe rects


@register(
    "overlay_intersection",
    f"""WITH a(id_a, axmin, aymin, axmax, aymax) AS ({_envelope_values(polygon_records()[:64], 'id_a')}),
b(id_b, bxmin, bymin, bxmax, bymax) AS ({_envelope_values(polygon_records_b(), 'id_b')}),
j AS (
  SELECT id_a, id_b,
         least(axmax, bxmax) - greatest(axmin, bxmin) AS xo,
         least(aymax, bymax) - greatest(aymin, bymin) AS yo
  FROM a CROSS JOIN b)
SELECT id_a, id_b, 1::int AS n_rings, {SR('xo * yo', 6)} AS inter_area
FROM j WHERE xo > 0 AND yo > 0""",
)
def q_overlay_intersection(spark, sf_dir):
    """Layer Intersection (ogrlayer.cpp:5386) against the axis-rect probe
    layer: cell-cover candidates + S–H clip per pair; geometry (rings) is
    produced, the gate checks the derived area/ring count. Non-rect A
    features are envelope-disjoint from every probe rect by fixture design,
    so the interval-SQL oracle over the mosaic is exact."""
    out = PJ.layer_intersection_rect(
        polygons_df(spark), polygons_b_df(spark), zoom=5
    )
    return out.select(
        "id_a", "id_b", "n_rings", R("inter_area", 6).alias("inter_area")
    )


@register(
    "overlay_erase",
    f"""WITH a(id_a, axmin, aymin, axmax, aymax) AS ({_envelope_values(polygon_records()[:64], 'id_a')}),
b(id_b, bxmin, bymin, bxmax, bymax) AS (
  {_envelope_values([r for r in polygon_records_b() if r['poly_id'] in _ERASE_B_IDS], 'id_b')}),
cut AS (
  SELECT id_a,
         sum(greatest(0.0, least(axmax, bxmax) - greatest(axmin, bxmin))
           * greatest(0.0, least(aymax, bymax) - greatest(aymin, bymin))) AS e
  FROM a CROSS JOIN b GROUP BY id_a)
SELECT a.id_a, {SR('(axmax - axmin) * (aymax - aymin)', 6)} AS area,
       {SR('coalesce(c.e, 0.0)', 6)} AS erased_area,
       {SR('(axmax - axmin) * (aymax - aymin) - coalesce(c.e, 0.0)', 6)} AS remaining_area
FROM a LEFT JOIN cut c USING (id_a)""",
)
def q_overlay_erase(spark, sf_dir):
    """Layer Erase area accounting (ogrlayer.cpp:7847) against a mutually
    disjoint axis-rect subset: area(A \\ ∪B) = area(A) − Σ area(A∩B_i)."""
    a = polygons_df(spark).filter(F.col("poly_id") < 64)
    b = polygons_b_df(spark).filter(F.col("poly_id").isin(*_ERASE_B_IDS))
    out = PJ.layer_erase_area_rect(a, b, zoom=5)
    return out.select(
        "id_a", R("area", 6).alias("area"),
        R("erased_area", 6).alias("erased_area"),
        R("remaining_area", 6).alias("remaining_area"),
    )


@register(
    "dissolve_noded",
    """SELECT eas_id, n_src, union_area, n_parts, n_rings FROM (VALUES
  (501::bigint, 3::bigint, 16.0::double, 1::int, 1::int),
  (502::bigint, 3::bigint,  7.0::double, 1::int, 1::int),
  (503::bigint, 4::bigint,  8.0::double, 1::int, 2::int)
) AS t(eas_id, n_src, union_area, n_parts, n_rings)""",
)
def q_dissolve_noded(spark, sf_dir):
    """Dissolve of a NON-edge-matched coverage (VERDICT r2 #8): every group
    of the T-junction fixture has partially-shared boundaries, so plain
    edge cancellation cannot dissolve it — node_coverage_rings (the
    clean-coverage analog, apps/gdalalg_vector_clean_coverage.cpp) splits
    edges at interior vertices first. Oracle = hand-derived area/part/ring
    counts of the three unions (square, notch, ring-with-hole)."""
    from gdal_spark.data.pages import tjunction_df

    out = DV.dissolve_union(tjunction_df(spark), node=True)
    return out.select(
        "eas_id", "n_src", R("union_area", 6).alias("union_area"),
        "n_parts", "n_rings",
    )


# --- overlay family completion: Union / SymDifference / Identity / Update
#     (ogrlayer.cpp:5804, 6341, 6771, 7189) --------------------------------

# Interior-disjoint probe-rect subset (pairwise interiors disjoint; touching
# edges allowed): equals-cell, within-cell, corner-touch, 4-cell overlap,
# far-disjoint, edge-touch — every overlay class is exercised.
_OVERLAY_B_IDS = (1000, 1001, 1004, 1005, 1006, 1009)


def _sql_overlay(op: str) -> str:
    b_recs = [r for r in polygon_records_b() if r["poly_id"] in _OVERLAY_B_IDS]
    classes = {
        "union": "SELECT * FROM both_rows UNION ALL SELECT * FROM a_only "
                 "UNION ALL SELECT * FROM b_only",
        "symdifference": "SELECT * FROM a_only UNION ALL SELECT * FROM b_only",
        "identity": "SELECT * FROM both_rows UNION ALL SELECT * FROM a_only",
        "update": "SELECT * FROM a_only UNION ALL SELECT * FROM b_update",
    }[op]
    return f"""
WITH a(id_a, axmin, aymin, axmax, aymax) AS ({_envelope_values(polygon_records()[:64], 'id_a')}),
b(id_b, bxmin, bymin, bxmax, bymax) AS ({_envelope_values(b_recs, 'id_b')}),
j AS (
  SELECT id_a, id_b,
         greatest(0.0, least(axmax, bxmax) - greatest(axmin, bxmin))
       * greatest(0.0, least(aymax, bymax) - greatest(aymin, bymin)) AS ia
  FROM a CROSS JOIN b),
both_rows AS (SELECT 'both' AS cls, id_a, id_b, ia AS area FROM j WHERE ia > 0),
cuta AS (SELECT id_a, sum(ia) AS e FROM j GROUP BY id_a),
cutb AS (SELECT id_b, sum(ia) AS e FROM j GROUP BY id_b),
a_only AS (
  SELECT 'a_only' AS cls, id_a, (-1)::bigint AS id_b,
         (axmax - axmin) * (aymax - aymin) - coalesce(e, 0.0) AS area
  FROM a LEFT JOIN cuta USING (id_a)
  WHERE (axmax - axmin) * (aymax - aymin) - coalesce(e, 0.0) > 1e-9),
b_only AS (
  SELECT 'b_only' AS cls, (-1)::bigint AS id_a, id_b,
         (bxmax - bxmin) * (bymax - bymin) - coalesce(e, 0.0) AS area
  FROM b LEFT JOIN cutb USING (id_b)
  WHERE (bxmax - bxmin) * (bymax - bymin) - coalesce(e, 0.0) > 1e-9),
b_update AS (
  SELECT 'b_update' AS cls, (-1)::bigint AS id_a, id_b,
         (bxmax - bxmin) * (bymax - bymin) AS area FROM b)
SELECT cls, id_a, id_b, {SR('area', 6)} AS area FROM ({classes})"""


def _q_overlay(spark, op):
    a = polygons_df(spark).filter(F.col("poly_id") < 64)
    b = polygons_b_df(spark).filter(F.col("poly_id").isin(*_OVERLAY_B_IDS))
    out = PJ.layer_overlay_rect(a, b, op, zoom=5)
    return out.select("cls", "id_a", "id_b", R("area", 6).alias("area"))


@register("overlay_union", _sql_overlay("union"))
def q_overlay_union(spark, sf_dir):
    """Layer Union (ogrlayer.cpp:5804): A∩B pieces + A−∪B remainders
    (GEOMETRIC 4-slab erase kernel) + B−∪A remainders, as set algebra over
    the distributed intersection join. The interval oracle independently
    cross-checks the erase kernel's remaining areas."""
    return _q_overlay(spark, "union")


@register("overlay_symdiff", _sql_overlay("symdifference"))
def q_overlay_symdiff(spark, sf_dir):
    """Layer SymDifference (ogrlayer.cpp:6341): both remainders, no
    intersection pieces."""
    return _q_overlay(spark, "symdifference")


@register("overlay_identity", _sql_overlay("identity"))
def q_overlay_identity(spark, sf_dir):
    """Layer Identity (ogrlayer.cpp:6771): input-layer geometry split by the
    method layer — A∩B pieces + A−∪B remainders only."""
    return _q_overlay(spark, "identity")


@register("overlay_update", _sql_overlay("update"))
def q_overlay_update(spark, sf_dir):
    """Layer Update (ogrlayer.cpp:7189): method-layer features replace the
    overlapped parts of A — A−∪B remainders + B features unchanged."""
    return _q_overlay(spark, "update")


@register("pip_cells_compact", _PIP_ORACLE)
def q_pip_cells_compact(spark, sf_dir):
    """First-match ``pip_join`` (min poly_id per point in the index probe),
    same oracle as pip_broadcast. (The name is kept from the retired
    compacted-cover cell join, which broadcast the same index and never
    beat this plan.)"""
    return PIP.pip_join(
        order_points(spark, sf_dir), polygons_df(spark), first_match=True
    ).select("o_orderkey", "poly_id")


def _sql_ivf_topk(n_centroids: int = 8, nprobe: int = 2) -> str:
    cos = SIM.sql_cosine("q.embedding", "v.embedding")
    return f"""
WITH q0 AS (SELECT * FROM embeddings WHERE {ANN_PRED}),
q AS (SELECT q0.*, {SIM.sql_ivf_probes('q0.embedding', n_centroids, EMB_DIM, nprobe)} AS probes FROM q0),
v0 AS (SELECT v.*, {SIM.sql_ivf_assign('v.embedding', n_centroids, EMB_DIM)} AS vlist FROM embeddings v),
d AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id, {cos} AS sim
      FROM q JOIN v0 v ON list_contains(q.probes, v.vlist)
      WHERE v.vec_id <> q.vec_id),
r AS (SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
      FROM d)
SELECT query_id, neighbor_id, rk AS "rank", sim FROM r WHERE rk <= {ANN_K}"""


@register("embed_ann_ivf", _sql_ivf_topk())
def q_embed_ann_ivf(spark, sf_dir):
    """IVF ANN (Faiss-IVF shape): deterministic coarse centroids → one
    inverted list per vector → queries probe the nprobe nearest lists →
    exact cosine refine + window top-k. Join keys are small ints."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(ANN_PRED)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_topk(
        emb, queries, k=ANN_K, dim=EMB_DIM, n_centroids=8, nprobe=2
    )


@register(
    "sql_in_between_null",
    """SELECT o_orderpriority,
       sum(CASE WHEN o_orderstatus IN ('F', 'P') THEN 1 ELSE 0 END)::bigint AS n_in,
       sum(CASE WHEN o_totalprice BETWEEN 50000.0 AND 150000.0 THEN 1 ELSE 0 END)::bigint AS n_between,
       sum(CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN 1 ELSE 0 END)::bigint AS n_null,
       sum(CASE WHEN NOT (o_orderstatus = 'O') THEN 1 ELSE 0 END)::bigint AS n_not
FROM orders GROUP BY o_orderpriority""",
)
def q_sql_in_between_null(spark, sf_dir):
    """swq predicate grammar: IN / BETWEEN / IS NULL / NOT
    (ogr/swq_op_general.cpp:300-520, swq parser ogr_swq.h) as native
    Catalyst predicates; NULL manufactured with nullif so the IS NULL
    branch is exercised on a NULL-free fixture."""
    o = _read(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(
            F.when(F.col("o_orderstatus").isin("F", "P"), 1).otherwise(0)
        ).alias("n_in"),
        F.sum(
            F.when(
                F.col("o_totalprice").between(50000.0, 150000.0), 1
            ).otherwise(0)
        ).alias("n_between"),
        F.sum(
            F.when(
                F.nullif(F.col("o_orderstatus"), F.lit("O")).isNull(), 1
            ).otherwise(0)
        ).alias("n_null"),
        F.sum(
            F.when(~(F.col("o_orderstatus") == "O"), 1).otherwise(0)
        ).alias("n_not"),
    )


# ===========================================================================
# 15. Classic analytic aggregations over lineitem (the SQLite-dialect reach
#     of OGR ExecuteSQL — TPC-H Q1/Q6 shapes) + geodesic length +
#     window-average point sampling
# ===========================================================================

@register(
    "tpch_q1",
    f"""SELECT l_returnflag, l_linestatus,
       {SR('sum(l_quantity)', 2)} AS sum_qty,
       {SR('sum(l_extendedprice)', 2)} AS sum_base_price,
       {SR('sum(l_extendedprice * (1.0 - l_discount))', 2)} AS sum_disc_price,
       {SR('sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax))', 2)} AS sum_charge,
       {SR('avg(l_quantity)', 6)} AS avg_qty,
       {SR('avg(l_extendedprice)', 6)} AS avg_price,
       {SR('avg(l_discount)', 6)} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
GROUP BY l_returnflag, l_linestatus""",
)
def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary — the canonical multi-aggregate GROUP BY
    the reference's SQLite dialect runs via ExecuteSQL; pure partial-agg
    shuffle in Spark."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") <= F.lit("2001-09-01").cast("date")
    )
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        R(F.sum("l_quantity"), 2).alias("sum_qty"),
        R(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        R(F.sum(disc), 2).alias("sum_disc_price"),
        R(F.sum(disc * (F.lit(1.0) + F.col("l_tax"))), 2).alias("sum_charge"),
        R(F.avg("l_quantity"), 6).alias("avg_qty"),
        R(F.avg("l_extendedprice"), 6).alias("avg_price"),
        R(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "tpch_q6",
    f"""SELECT {SR('sum(l_extendedprice * l_discount)', 2)} AS revenue,
       count(*) AS n
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24.0""",
)
def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 forecast-revenue filter+agg — predicate pushdown showcase."""
    li = _read(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01").cast("date"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24.0)
    ).agg(
        R(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_geodesic_perimeter() -> str:
    d = G.sql_great_circle_m("y2a", "x2a", "y1a", "x1a")
    return f"""WITH seg(poly_id, x2a, y2a, x1a, y1a) AS ({_segment_values()})
SELECT poly_id, {SR(f'sum({d})', 3)} AS geodesic_m
FROM seg GROUP BY poly_id"""


@register("geom_length_geodesic", _sql_geodesic_perimeter())
def q_geom_length_geodesic(spark, sf_dir):
    """GEODESIC ring length (ogr/ogrsqlitesqlfunctions.cpp:627-681
    ST_Length(geom, use_ellipsoid) family — sphere here): Σ great-circle
    segment lengths over all rings, computed by the numpy SLOC kernel in
    ring order (same association as the SQL sum)."""
    from typing import Iterator

    import pandas as pd

    p = polygons_df(spark).select("poly_id", "rings")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, per = [], []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                total = 0.0
                for ring in G.rings_to_numpy(rings):
                    d = G.great_circle_distance(
                        ring[:-1, 1], ring[:-1, 0], ring[1:, 1], ring[1:, 0]
                    )
                    for v in d:  # sequential — SQL sum() association
                        total += float(v)
                ids.append(pid)
                per.append(total)
            yield pd.DataFrame({"poly_id": ids, "geodesic_m": per})

    out = p.mapInPandas(run, "poly_id long, geodesic_m double")
    return out.select("poly_id", R("geodesic_m", 3).alias("geodesic_m"))


def _sql_lanczos_val() -> str:
    gx, gy = _sql_global_px(sql_lon("o_orderkey"), sql_lat("o_orderkey"))

    def lw(t_expr: str, d: str) -> str:
        x = f"(({t_expr}) - ({d})::double)"
        sinc2 = (
            f"(3.0::double * sin(pi() * {x}) * sin(pi() * {x} / 3.0::double)"
            f" / (pi() * pi() * {x} * {x}))"
        )
        return f"(CASE WHEN abs({x}) < 1e-12 THEN 1.0::double ELSE {sinc2} END)"

    cx = f"least({_MAXPX}, greatest(0, ix0 + dx.d))::bigint"
    cy = f"least({_MAXPX}, greatest(0, iy0 + dy.d))::bigint"
    return f"""
WITH p AS (SELECT o_orderkey, ({gx}) AS gxv, ({gy}) AS gyv FROM orders),
p2 AS (SELECT o_orderkey,
              floor(gxv - 0.5) AS ix0, floor(gyv - 0.5) AS iy0,
              gxv - 0.5 - floor(gxv - 0.5) AS fx,
              gyv - 0.5 - floor(gyv - 0.5) AS fy FROM p),
tap AS (SELECT unnest(generate_series(-2, 3)) AS d),
c AS (SELECT o_orderkey,
             ({lw('fx', 'dx.d')}) * ({lw('fy', 'dy.d')}) AS w,
             {cx} AS cx, {cy} AS cy
      FROM p2 CROSS JOIN tap dx CROSS JOIN tap dy)
SELECT o_orderkey,
       {SR(f"sum(w * ({TL.sql_pixel_value('cx', 'cy', '1')})) / sum(w)", 6)} AS lanczos_val
FROM c GROUP BY o_orderkey"""


@register("raster_sample_lanczos", _sql_lanczos_val())
def q_raster_sample_lanczos(spark, sf_dir):
    """Warp-lanczos sampling (GWKLanczosSinc a=3, gdalwarpkernel.cpp:102-197
    menu + GWKResample weight normalization): 36-tap windowed sinc — closes
    the named warp kernel menu (near/bilinear/cubic/lanczos)."""
    pts = order_points(spark, sf_dir)
    raster = TL.synthetic_raster(spark, Z_RASTER, bands=1)
    out = TL.sample_lanczos(
        pts, raster, Z_RASTER, band=1, point_id="o_orderkey"
    )
    return out.withColumn("lanczos_val", R("lanczos_val", 6))


def _sql_pyramid_levels() -> str:
    """Direct block-mean oracle for every pyramid level from the z2 base:
    level z tile (tx,ty) mean = mean of pixel_value over its 2^(2-z)·256
    source block. All values are dyadic rationals (integer pixels, power-
    of-4 divisors) ⇒ iterated 2×2 averaging is float-EXACT and equals the
    direct mean — no rounding-order risk."""
    parts = []
    for z in (2, 1, 0):
        r = 1 << (2 - z)
        w = 256 * r
        parts.append(f"""
SELECT {z} AS zoom, tx.v AS tx, ty.v AS ty, 1 AS band,
       {SR(f"avg(cast(((tx.v * {w} + gx.i) * 31 + (ty.v * {w} + gy.i) * 17 + 7) % 256 AS double))", 6)} AS mean_val
FROM (SELECT unnest(generate_series(0, {(1 << z) - 1})) AS v) tx
CROSS JOIN (SELECT unnest(generate_series(0, {(1 << z) - 1})) AS v) ty
CROSS JOIN (SELECT unnest(generate_series(0, {w - 1})) AS i) gx
CROSS JOIN (SELECT unnest(generate_series(0, {w - 1})) AS i) gy
GROUP BY tx.v, ty.v""")
    return " UNION ALL ".join(parts)


@register("raster_pyramid_levels", _sql_pyramid_levels())
def q_raster_pyramid_levels(spark, sf_dir):
    """Full overview PYRAMID (z2 base → z0, iterated 2×2 average — the
    chained gdal2tiles/RegenerateOverviews path, overview.cpp:1214 +
    gdal2tiles.py:1466+): per-tile means at every level against the
    direct-block-mean oracle."""
    base = TL.synthetic_raster(spark, zoom=2, bands=1)
    pyr = TL.overview_pyramid(base, min_zoom=0, tile_size=256)
    mean = F.aggregate(
        F.col("data"), F.lit(0.0), lambda a, v: a + v
    ) / F.size("data")
    return pyr.select("zoom", "tx", "ty", "band", R(mean, 6).alias("mean_val"))


@register(
    "zonal_stats_ext",
    sql_pip_cte()
    + f"""
SELECT p.poly_id, count(*) AS n_points,
       {SR('min(pt.o_totalprice)', 2)} AS min_v,
       {SR('max(pt.o_totalprice)', 2)} AS max_v,
       {SR('stddev_pop(pt.o_totalprice)', 4)} AS stddev_v,
       count(DISTINCT (trunc(pt.o_totalprice)::bigint % 100)) AS variety
FROM pip p JOIN pts pt USING (o_orderkey)
GROUP BY p.poly_id""",
)
def q_zonal_stats_ext(spark, sf_dir):
    """Zonal statistics extended menu (apps/gdalalg_raster_zonal_stats.cpp:
    66-80: min/max/stddev/variety of the 21-stat set): PIP assign + one
    partial-agg shuffle; variety = COUNT DISTINCT of a bucketed value (the
    reference's variety counts distinct cell values)."""
    pts = order_points(spark, sf_dir)
    joined = PIP.pip_join(pts, polygons_df(spark), first_match=True)
    return joined.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        R(F.min("o_totalprice"), 2).alias("min_v"),
        R(F.max("o_totalprice"), 2).alias("max_v"),
        R(F.stddev_pop("o_totalprice"), 4).alias("stddev_v"),
        F.countDistinct(
            F.col("o_totalprice").cast("bigint") % 100
        ).alias("variety"),
    )


def _sql_dedup_clusters() -> str:
    """Recursive-CTE transitive closure over the MinHash near-dup pairs:
    cluster id = min reachable doc id — an algorithm entirely different
    from the engine's label propagation (independence of the oracle)."""
    return f"""
WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_sql_minhash_pairs()}) mp),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
verts AS (SELECT DISTINCT u FROM edges),
reach(u, r) AS (
  SELECT u, u FROM verts
  UNION
  SELECT e.u, rc.r FROM edges e JOIN reach rc ON rc.u = e.v),
lab AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, s.cluster_size
FROM lab l JOIN sz s USING (cluster_id)"""


@register("dedup_clusters", _sql_dedup_clusters())
def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER formation: LSH pairs → distributed connected
    components (min-label propagation, O(diameter) rounds) → per-cluster
    size; the canonical-doc rule is then min doc_id per cluster. Oracle =
    recursive-CTE transitive closure (different algorithm)."""
    docs = _read(spark, sf_dir, "documents")
    pairs = D.minhash_dedup_pairs(
        docs, num_perm=MH_PERM, bands=MH_BANDS, threshold=0.5
    )
    return D.connected_components(pairs)


_NODATA = 0.0  # pixel_value lands on 0 when (gpx*31 + gpy*17 + 7) % 256 == 0


def _sql_bilinear_nodata_val() -> str:
    gx, gy = _sql_global_px(sql_lon("o_orderkey"), sql_lat("o_orderkey"))
    ix0 = f"floor(({gx}) - 0.5)"
    iy0 = f"floor(({gy}) - 0.5)"
    fx = f"(({gx}) - 0.5 - ({ix0}))"
    fy = f"(({gy}) - 0.5 - ({iy0}))"
    num_terms, den_terms = [], []
    for dy in (0, 1):
        for dx in (0, 1):
            cx = f"least({_MAXPX}, greatest(0, ({ix0}) + {dx}))::bigint"
            cy = f"least({_MAXPX}, greatest(0, ({iy0}) + {dy}))::bigint"
            w = (
                f"({'(1.0 - ' + fx + ')' if dx == 0 else fx}) * "
                f"({'(1.0 - ' + fy + ')' if dy == 0 else fy})"
            )
            v = TL.sql_pixel_value(cx, cy, "1")
            num_terms.append(
                f"(CASE WHEN ({v}) <> {_NODATA!r} THEN ({w}) * ({v}) ELSE 0.0 END)"
            )
            den_terms.append(
                f"(CASE WHEN ({v}) <> {_NODATA!r} THEN ({w}) ELSE 0.0 END)"
            )
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return SR(
        f"(({num}) / (CASE WHEN ({den}) > 0 THEN ({den}) ELSE NULL END))", 6
    )


@register(
    "raster_sample_bilinear_nodata",
    f"SELECT o_orderkey, {_sql_bilinear_nodata_val()} AS bilinear_val FROM orders",
)
def q_raster_sample_bilinear_nodata(spark, sf_dir):
    """NODATA-masked warp-bilinear (GWKBilinear + validity masks,
    gdalwarpkernel.cpp): pixels equal to the nodata value (0 — hit by the
    closed-form raster every 256th value) are excluded and weights
    renormalize; all-nodata neighborhoods yield NULL."""
    pts = order_points(spark, sf_dir)
    raster = TL.synthetic_raster(spark, Z_RASTER, bands=1)
    out = TL.sample_bilinear_nodata(
        pts, raster, Z_RASTER, nodata=_NODATA, band=1, point_id="o_orderkey"
    )
    return out.withColumn("bilinear_val", R("bilinear_val", 6))


@register(
    "text_repetition",
    "SELECT doc_id, "
    + ", ".join(
        f"{v} AS {k}" for k, v in T.sql_repetition_select("text").items()
    )
    + " FROM documents",
)
def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals: duplicate-line fraction and
    top-word mass — the repetition filters every web-scale training
    pipeline applies after dedup."""
    docs = _read(spark, sf_dir, "documents")
    return T.repetition_columns(docs).select(
        "doc_id", "n_lines", "dup_line_frac", "top_word_frac"
    )


@register(
    "source_stats",
    """SELECT source, count(*) AS n_docs,
       sum(n_chars)::bigint AS total_chars,
       count(DISTINCT lang) AS n_langs
FROM documents GROUP BY source""",
)
def q_source_stats(spark, sf_dir):
    """Per-source corpus accounting (the domain/host-level statistics every
    Common-Crawl pipeline needs for sampling weights and blocklists): one
    partial-agg shuffle on the source key."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


# ===========================================================================
# 16. Temporal joins: as-of + range (the brief's named custom operators)
# ===========================================================================

from gdal_spark.operators import temporal as TJ  # noqa: E402


@register(
    "events_asof_join",
    """SELECT l.event_id,
       floor(epoch(l.ts))::bigint AS ts_epoch, l.user_id, r.value AS prior_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
LEFT JOIN LATERAL (
  SELECT value FROM events r
  WHERE r.event_type = 'click' AND r.user_id = l.user_id AND r.ts <= l.ts
  ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) r ON true""",
)
def q_events_asof_join(spark, sf_dir):
    """Backward AS-OF join: every purchase gets the user's latest prior (or
    simultaneous) click value — one union + one keyed window, no per-row
    probing (pandas merge_asof 'backward' semantics; ties by max event_id).
    """
    ev = _read(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.col("value")
    )
    out = TJ.asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload=["value"], right_id="event_id",
    )
    return out.select(
        "event_id",
        F.floor(F.col("ts").cast("timestamp").cast("double")).cast("bigint").alias("ts_epoch"),
        "user_id",
        F.col("value").alias("prior_click_value"),
    )


_PRICE_BANDS = [
    (0, 0.0, 60000.0),
    (1, 60000.0, 120000.0),
    (2, 120000.0, 200000.0),
    (3, 90000.0, 150000.0),  # overlapping band: rows can match twice
]


@register(
    "range_price_join",
    f"""WITH bands(band_id, lo, hi) AS (VALUES {', '.join(f'({b}, {lo!r}::double, {hi!r}::double)' for b, lo, hi in _PRICE_BANDS)})
SELECT o.o_orderkey, b.band_id
FROM orders o JOIN bands b
  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi""",
)
def q_range_price_join(spark, sf_dir):
    """RANGE join (value ∈ [lo, hi) intervals, overlap allowed) via fixed-
    width bucketing — the 1-D analog of the polygon cell-cover join: int
    bucket equi-join + exact filter, never a broadcast-nested-loop."""
    spark_bands = spark.createDataFrame(
        _PRICE_BANDS, "band_id int, lo double, hi double"
    )
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = TJ.range_join(
        o, spark_bands, value_col="o_totalprice", bucket_width=30000.0
    )
    return out.select("o_orderkey", "band_id")


# ===========================================================================
# 17. Training-data curation: deterministic stratified sampling +
#     context-window chunking
# ===========================================================================

_SAMPLE_FRACS = {"src0": 100, "src1": 50, "src2": 25, "src3": 10}  # percent


@register(
    "sample_stratified",
    f"""WITH fr(source, pct) AS (VALUES {', '.join(f"('{s}', {p})" for s, p in _SAMPLE_FRACS.items())}),
keyed AS (
  SELECT d.doc_id, d.source,
         ('0x' || substring(md5('s:' || d.doc_id::varchar), 1, 8))::bigint % 100 AS bucket
  FROM documents d)
SELECT k.doc_id, k.source
FROM keyed k JOIN fr USING (source)
WHERE k.bucket < fr.pct""",
)
def q_sample_stratified(spark, sf_dir):
    """DETERMINISTIC stratified sampling (per-source rates — the
    reproducible corpus-mixing step of every training pipeline): sampling
    decision = md5(doc_id) bucket < per-stratum rate; same hash both
    engines ⇒ the exact sample is verifiable, not just its size. Broadcast
    rate table, map-only filter."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    fr = spark.createDataFrame(
        list(_SAMPLE_FRACS.items()), "source string, pct int"
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("s:"), F.col("doc_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 100
    )
    return (
        docs.join(F.broadcast(fr), "source")
        .filter(bucket < F.col("pct"))
        .select("doc_id", "source")
    )


CHUNK_TOKENS = 20
CHUNK_STRIDE = 15  # 5-token overlap


@register(
    "text_chunking",
    f"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents),
n AS (SELECT doc_id, t, len(t) AS nt FROM toks),
idx AS (
  SELECT doc_id, t, nt,
         unnest(range(0, greatest((nt - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}, 0) + 1)) AS chunk_idx
  FROM n)
SELECT doc_id, chunk_idx::int AS chunk_idx,
       array_to_string(list_slice(t, chunk_idx * {CHUNK_STRIDE} + 1,
                                  chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ') AS chunk_text
FROM idx""",
)
def q_text_chunking(spark, sf_dir):
    """Context-window CHUNKING (fixed token windows with stride/overlap —
    the long-document splitting step before tokenizer packing): split once
    (projection boundary), explode window indices, slice+rejoin. Map-only,
    output rows ≈ tokens/stride."""
    docs = _read(spark, sf_dir, "documents")
    step = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " +").alias("_t")
    )
    nt = F.size("_t")
    n_chunks = F.greatest(
        F.ceil((nt - F.lit(CHUNK_TOKENS)) / F.lit(CHUNK_STRIDE)).cast("long"),
        F.lit(0),
    ) + 1
    out = step.withColumn(
        "chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1))
    )
    chunk = F.array_join(
        F.slice(
            F.col("_t"),
            F.col("chunk_idx") * CHUNK_STRIDE + 1,
            CHUNK_TOKENS,
        ),
        " ",
    )
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        chunk.alias("chunk_text"),
    )


# ===========================================================================
# 18. Polygonize — raster → vector regions (alg/polygonize.cpp analog)
# ===========================================================================

_PZ_W = 32  # 32×32 pixel grid; class constant over 4×4 blocks


@register(
    "polygonize_regions",
    f"""WITH g AS (SELECT unnest(generate_series(0, {_PZ_W - 1})) AS i),
cells AS (
  SELECT gx.i AS x, gy.i AS y,
         (((gx.i // 4) * 7 + (gy.i // 4) * 5) % 4) AS val
  FROM g gx CROSS JOIN g gy),
blocks AS (
  SELECT (x // 4) AS bx, (y // 4) AS by, min(y * {_PZ_W} + x) AS region_id,
         min(val) AS val, count(*) AS n_cells
  FROM cells GROUP BY x // 4, y // 4)
SELECT region_id, val::double AS val, n_cells, 1::int AS n_rings,
       16.0::double AS area, 16.0::double AS perimeter
FROM blocks""",
)
def q_polygonize_regions(spark, sf_dir):
    """POLYGONIZE (GDALPolygonize, alg/polygonize.cpp): connected equal-
    value regions → polygons, via same-value adjacency equi-joins +
    distributed connected components + per-region boundary-ring tracing.
    The class raster is constant on 4×4 blocks with distinct neighbors, so
    the oracle enumerates regions in closed form (64 blocks, area 16,
    perimeter 16, single ring)."""
    from gdal_spark.operators.polygonize import polygonize

    g = spark.range(_PZ_W * _PZ_W).select(
        (F.col("id") % _PZ_W).alias("gx"),
        (F.col("id") / _PZ_W).cast("long").alias("gy"),
    )
    cells = g.withColumn(
        "val",
        ((F.col("gx") / 4).cast("long") * 7 + (F.col("gy") / 4).cast("long") * 5) % 4,
    )
    return polygonize(cells, width=_PZ_W)


# ===========================================================================
# 19. DEM derivatives: slope + hillshade (apps/gdaldem Horn kernel,
#     alg/gdaldem_lib.cpp) over the closed-form raster
# ===========================================================================

_DEM_W = 64      # interior pixels of a 64×64 window
_DEM_SCALE = 1.0  # xres = yres = 1 "meter" per pixel
_DEM_Z = 30.0    # sun altitude deg
_DEM_AZ = 315.0  # sun azimuth deg


def _dem_pix(gx: str, gy: str) -> str:
    # smooth synthetic DEM: integer closed form, differentiable enough
    return f"cast((({gx}) * ({gx}) % 97 + ({gy}) * 13 % 89) AS double)"


def _sql_dem() -> str:
    import math as _m

    # Horn 1981 (gdaldem_lib.cpp GDALSlopeHornAlg / GDALHillshade):
    # dz/dx = ((c + 2f + i) - (a + 2d + g)) / (8*xres), dz/dy likewise
    nbrs = {}
    for name, (dx, dy) in {
        "a": (-1, -1), "b": (0, -1), "c": (1, -1),
        "d": (-1, 0), "f": (1, 0),
        "g": (-1, 1), "h": (0, 1), "i": (1, 1),
    }.items():
        nbrs[name] = _dem_pix(f"x + {dx}", f"y + {dy}")
    dzdx = f"((({nbrs['c']}) + 2*({nbrs['f']}) + ({nbrs['i']})) - (({nbrs['a']}) + 2*({nbrs['d']}) + ({nbrs['g']}))) / (8.0 * {_DEM_SCALE!r})"
    dzdy = f"((({nbrs['g']}) + 2*({nbrs['h']}) + ({nbrs['i']})) - (({nbrs['a']}) + 2*({nbrs['b']}) + ({nbrs['c']}))) / (8.0 * {_DEM_SCALE!r})"
    slope = f"degrees(atan(sqrt(({dzdx}) * ({dzdx}) + ({dzdy}) * ({dzdy}))))"
    zen = _m.radians(90.0 - _DEM_Z)
    az = _m.radians(_DEM_AZ)
    hs = (
        f"(cos({zen!r}) * cos(atan(sqrt(({dzdx}) * ({dzdx}) + ({dzdy}) * ({dzdy})))) "
        f"+ sin({zen!r}) * sin(atan(sqrt(({dzdx}) * ({dzdx}) + ({dzdy}) * ({dzdy})))) "
        f"* cos({az!r} - atan2(({dzdy}), -({dzdx}))))"
    )
    return f"""
WITH g AS (SELECT unnest(generate_series(1, {_DEM_W - 2})) AS i),
px AS (SELECT gx.i AS x, gy.i AS y FROM g gx CROSS JOIN g gy)
SELECT x, y, {SR(slope, 6)} AS slope_deg,
       {SR(f'255.0 * greatest(0.0, {hs})', 4)} AS hillshade
FROM px"""


@register("dem_slope_hillshade", _sql_dem())
def q_dem_slope_hillshade(spark, sf_dir):
    """gdaldem slope + hillshade (Horn 3×3 kernel, alg/gdaldem_lib.cpp:
    GDALSlopeHornAlg / GDALHillshadeAlg): neighbors of the closed-form DEM
    evaluated as pure column math — zero UDF, zero shuffle (map-only over
    the pixel range)."""
    import math as _m

    g = spark.range((_DEM_W - 2) * (_DEM_W - 2)).select(
        (F.col("id") % (_DEM_W - 2) + 1).alias("x"),
        (F.col("id") / (_DEM_W - 2)).cast("long").__add__(1).alias("y"),
    )

    def pix(dx, dy):
        gx = F.col("x") + F.lit(dx)
        gy = F.col("y") + F.lit(dy)
        return ((gx * gx) % 97 + (gy * 13) % 89).cast("double")

    a, b, c = pix(-1, -1), pix(0, -1), pix(1, -1)
    d, f_, = pix(-1, 0), pix(1, 0)
    g_, h, i = pix(-1, 1), pix(0, 1), pix(1, 1)
    dzdx = ((c + 2 * f_ + i) - (a + 2 * d + g_)) / F.lit(8.0 * _DEM_SCALE)
    dzdy = ((g_ + 2 * h + i) - (a + 2 * b + c)) / F.lit(8.0 * _DEM_SCALE)
    grad = F.sqrt(dzdx * dzdx + dzdy * dzdy)
    slope = F.degrees(F.atan(grad))
    zen = _m.radians(90.0 - _DEM_Z)
    az = _m.radians(_DEM_AZ)
    hs = (
        F.lit(_m.cos(zen)) * F.cos(F.atan(grad))
        + F.lit(_m.sin(zen)) * F.sin(F.atan(grad))
        * F.cos(F.lit(az) - F.atan2(dzdy, -dzdx))
    )
    return g.select(
        "x", "y",
        R(slope, 6).alias("slope_deg"),
        R(F.lit(255.0) * F.greatest(F.lit(0.0), hs), 4).alias("hillshade"),
    )


# ===========================================================================
# 20. Contour extraction — marching squares (alg/contour.cpp, gdal_contour)
# ===========================================================================

from gdal_spark.operators.contour import (  # noqa: E402
    case_and_length_cols,
    sql_case_and_length,
)

_CT_W = 48
_CT_LEVEL = 50.5  # half-integer: never equals an (integer) corner value


def _sql_contour_cells() -> str:
    case_expr, len_expr = sql_case_and_length(_CT_LEVEL)
    return f"""
WITH g AS (SELECT unnest(generate_series(0, {_CT_W - 2})) AS i),
cells AS (
  SELECT gx.i AS x, gy.i AS y,
         {_dem_pix('gx.i', 'gy.i')} AS z00,
         {_dem_pix('gx.i + 1', 'gy.i')} AS z10,
         {_dem_pix('gx.i + 1', 'gy.i + 1')} AS z11,
         {_dem_pix('gx.i', 'gy.i + 1')} AS z01
  FROM g gx CROSS JOIN g gy),
m AS (SELECT x, y, {case_expr} AS case_id, {len_expr} AS iso_len FROM cells)
SELECT x, y, case_id::int AS case_id, {SR('iso_len', 6)} AS iso_len
FROM m WHERE case_id NOT IN (0, 15)"""


@register("contour_cells", _sql_contour_cells())
def q_contour_cells(spark, sf_dir):
    """Marching-squares contour at one iso-level over the closed-form DEM
    (gdal_contour / alg/contour.cpp): per-cell case id + interpolated
    segment length, saddles resolved by the center-mean rule. Map-only
    column math (the case/length expressions are generated from ONE shared
    table for both engines)."""
    from gdal_spark.operators.contour import case_and_length_cols

    g = spark.range((_CT_W - 1) * (_CT_W - 1)).select(
        (F.col("id") % (_CT_W - 1)).alias("x"),
        (F.col("id") / (_CT_W - 1)).cast("long").alias("y"),
    )

    def pix(dx, dy):
        gx = F.col("x") + F.lit(dx)
        gy = F.col("y") + F.lit(dy)
        return ((gx * gx) % 97 + (gy * 13) % 89).cast("double")

    cells = g.select(
        "x", "y",
        pix(0, 0).alias("z00"), pix(1, 0).alias("z10"),
        pix(1, 1).alias("z11"), pix(0, 1).alias("z01"),
    )
    case_c, len_c = case_and_length_cols(_CT_LEVEL)
    out = cells.select(
        "x", "y", case_c.cast("int").alias("case_id"),
        R(len_c, 6).alias("iso_len"),
    )
    return out.filter(~F.col("case_id").isin(0, 15))


# ===========================================================================
# 21. Viewshed (alg/viewshed.cpp MVP) + proximity (alg/gdalproximity.cpp)
# ===========================================================================

_VS_W = 48
_VS_OX, _VS_OY = 24, 24   # observer pixel
_VS_OBS_H = 20.0          # observer height above terrain
_VS_BEARING_BINS = 256


@register(
    "dem_viewshed",
    f"""WITH g AS (SELECT unnest(generate_series(0, {_VS_W - 1})) AS i),
px AS (
  SELECT gx.i AS x, gy.i AS y, {_dem_pix('gx.i', 'gy.i')} AS z
  FROM g gx CROSS JOIN g gy
  WHERE NOT (gx.i = {_VS_OX} AND gy.i = {_VS_OY})),
ang AS (
  SELECT x, y, z,
         floor((atan2((y - {_VS_OY})::double, (x - {_VS_OX})::double) + pi())
               / (2 * pi()) * {_VS_BEARING_BINS}) AS ray,
         sqrt((x - {_VS_OX})::double * (x - {_VS_OX})::double
            + (y - {_VS_OY})::double * (y - {_VS_OY})::double) AS dist,
         (z - ({_dem_pix(str(_VS_OX), str(_VS_OY))} + {_VS_OBS_H!r}))
           / sqrt((x - {_VS_OX})::double * (x - {_VS_OX})::double
                + (y - {_VS_OY})::double * (y - {_VS_OY})::double) AS elev_tan
  FROM px),
vs AS (
  SELECT x, y, ray, dist, elev_tan,
         max(elev_tan) OVER (PARTITION BY ray ORDER BY dist, x, y
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS max_before
  FROM ang)
SELECT x, y,
       (max_before IS NULL OR elev_tan >= max_before) AS visible
FROM vs""",
)
def q_dem_viewshed(spark, sf_dir):
    """VIEWSHED MVP (alg/viewshed.cpp semantics, bearing-quantized rays —
    the Wang-et-al style sweep): pixels group by quantized bearing from the
    observer; along each ray, a running max of the elevation angle decides
    visibility. ONE shuffle on the ray key + a window — no per-ray driver
    loops, scales with pixel count."""
    import math as _m

    g = spark.range(_VS_W * _VS_W).select(
        (F.col("id") % _VS_W).alias("x"),
        (F.col("id") / _VS_W).cast("long").alias("y"),
    ).filter(~((F.col("x") == _VS_OX) & (F.col("y") == _VS_OY)))
    z = ((F.col("x") * F.col("x")) % 97 + (F.col("y") * 13) % 89).cast("double")
    obs_z = float((_VS_OX * _VS_OX) % 97 + (_VS_OY * 13) % 89) + _VS_OBS_H
    dx = (F.col("x") - F.lit(_VS_OX)).cast("double")
    dy = (F.col("y") - F.lit(_VS_OY)).cast("double")
    dist = F.sqrt(dx * dx + dy * dy)
    ray = F.floor(
        (F.atan2(dy, dx) + F.lit(float(_m.pi)))
        / F.lit(2 * float(_m.pi)) * F.lit(_VS_BEARING_BINS)
    )
    elev = (z - F.lit(obs_z)) / dist
    from pyspark.sql import Window

    ang = g.select(
        "x", "y", ray.alias("ray"), dist.alias("dist"),
        elev.alias("elev_tan"),
    )
    w = (
        Window.partitionBy("ray")
        .orderBy("dist", "x", "y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return ang.select(
        "x", "y",
        (
            F.max("elev_tan").over(w).isNull()
            | (F.col("elev_tan") >= F.max("elev_tan").over(w))
        ).alias("visible"),
    )


_PROX_TARGETS = [(3, 5), (17, 9), (30, 30), (44, 12), (8, 40), (40, 44)]


@register(
    "raster_proximity",
    f"""WITH g AS (SELECT unnest(generate_series(0, {_VS_W - 1})) AS i),
t(tx, ty) AS (VALUES {', '.join(f'({a}, {b})' for a, b in _PROX_TARGETS)})
SELECT gx.i AS x, gy.i AS y,
       {SR('min(sqrt((gx.i - tx) * (gx.i - tx) + (gy.i - ty) * (gy.i - ty)))', 6)} AS prox
FROM g gx CROSS JOIN g gy CROSS JOIN t
GROUP BY gx.i, gy.i""",
)
def q_raster_proximity(spark, sf_dir):
    """PROXIMITY raster (alg/gdalproximity.cpp: per-pixel distance to the
    nearest target pixel): targets are a broadcast-small set → the distance
    is array_min over per-target column expressions — map-only, no shuffle,
    no UDF (the quadtree sweep of the reference becomes a fused column
    reduction)."""
    g = spark.range(_VS_W * _VS_W).select(
        (F.col("id") % _VS_W).alias("x"),
        (F.col("id") / _VS_W).cast("long").alias("y"),
    )
    dists = F.array(*[
        F.sqrt(
            (F.col("x") - F.lit(a)) * (F.col("x") - F.lit(a))
            + (F.col("y") - F.lit(b)) * (F.col("y") - F.lit(b))
        ).cast("double")
        for a, b in _PROX_TARGETS
    ])
    return g.select("x", "y", R(F.array_min(dists), 6).alias("prox"))


# ===========================================================================
# 21b. Raster stencils: sieve / fill-nodata / pansharpen
#      (alg/gdalsievefilter.cpp, alg/gdalfillnodata.cpp, alg/gdalpansharpen.cpp)
# ===========================================================================

from gdal_spark.operators import stencil as ST  # noqa: E402

_SIEVE_W = 12
_SIEVE_THRESHOLD = 3


def _sieve_fixture_rows() -> list[tuple[int, int, int]]:
    """Deterministic 12×12 grid: background 0, two blobs (1, 4), an interior
    speckle inside blob 1, and three small speckles below the threshold."""
    rows = []
    for yy in range(_SIEVE_W):
        for xx in range(_SIEVE_W):
            v = 0
            if 2 <= xx <= 5 and 2 <= yy <= 5:
                v = 1
            if 2 <= xx <= 4 and 7 <= yy <= 10:
                v = 4
            if (xx, yy) == (3, 3):
                v = 6          # speckle INSIDE blob 1 → merges into 1
            if (xx, yy) == (8, 1):
                v = 2          # isolated speckle → background
            if (xx, yy) in ((8, 8), (9, 8)):
                v = 3          # 2-cell speckle → background
            if (xx, yy) == (11, 11):
                v = 5          # corner speckle → background
            rows.append((xx, yy, v))
    return rows


def _sieve_oracle_rows() -> list[tuple[int, int, int]]:
    """INDEPENDENT python mirror of one sieve pass: BFS flood-fill labeling
    (no Spark, no CC machinery) + merge regions < threshold into their
    largest neighbour (ties → smallest region id)."""
    grid = {(xx, yy): v for xx, yy, v in _sieve_fixture_rows()}
    label, regions = {}, []
    for cell in sorted(grid):
        if cell in label:
            continue
        rid = len(regions)
        stack, members = [cell], []
        label[cell] = rid
        while stack:
            cx, cy = stack.pop()
            members.append((cx, cy))
            for nx, ny in ((cx + 1, cy), (cx - 1, cy), (cx, cy + 1), (cx, cy - 1)):
                if (nx, ny) in grid and (nx, ny) not in label \
                        and grid[(nx, ny)] == grid[(cx, cy)]:
                    label[(nx, ny)] = rid
                    stack.append((nx, ny))
        regions.append(members)
    # region ids as min scalar cell id, to mirror the engine's tie rule
    rid_of = {
        i: min(yy * _SIEVE_W + xx for xx, yy in m)
        for i, m in enumerate(regions)
    }
    out_val = {}
    for i, members in enumerate(regions):
        v = grid[members[0]]
        if len(members) < _SIEVE_THRESHOLD:
            nbrs = {}
            for cx, cy in members:
                for nx, ny in ((cx + 1, cy), (cx - 1, cy),
                               (cx, cy + 1), (cx, cy - 1)):
                    if (nx, ny) in grid and label[(nx, ny)] != i:
                        j = label[(nx, ny)]
                        nbrs[j] = (len(regions[j]), -rid_of[j])
            if nbrs:
                best = max(nbrs, key=lambda j: nbrs[j])
                v = grid[regions[best][0]]
        out_val[i] = v
    return sorted(
        (xx, yy, out_val[label[(xx, yy)]])
        for xx, yy, _ in _sieve_fixture_rows()
    )


def _sql_sieve() -> str:
    vals = ", ".join(f"({a}, {b}, {v})" for a, b, v in _sieve_oracle_rows())
    return (
        "SELECT gx, gy, val::bigint AS val FROM (VALUES "
        + vals + ") AS t(gx, gy, val)"
    )


@register("raster_sieve", _sql_sieve())
def q_raster_sieve(spark, sf_dir):
    """Sieve filter (GDALSieveFilter, alg/gdalsievefilter.cpp): 4-connected
    regions under 3 cells take their largest neighbour's value. Engine =
    distributed CC labeling + two keyed aggregates; oracle = independent
    python BFS mirror of the same rule (inline-values style)."""
    cells = spark.createDataFrame(
        _sieve_fixture_rows(), "gx int, gy int, val long"
    )
    return ST.sieve_filter(cells, _SIEVE_THRESHOLD).select(
        "gx", "gy", F.col("val").cast("long").alias("val")
    )


_FN_W = 16
_FN_DIST = 3


def _sql_fillnodata() -> str:
    v_expr = (
        f"CASE WHEN (gx.i * 7 + gy.i * 11) % 13 = 0 THEN NULL "
        f"ELSE ((gx.i * 31 + gy.i * 17) % 256)::double END"
    )
    return f"""
WITH s AS (SELECT unnest(generate_series(0, {_FN_W - 1})) AS i),
g AS (SELECT gx.i AS x, gy.i AS y, {v_expr} AS v
      FROM s gx CROSS JOIN s gy),
valid AS (SELECT * FROM g WHERE v IS NOT NULL),
nod AS (SELECT x, y FROM g WHERE v IS NULL),
L AS (SELECT n.x, n.y, max(b.x) AS nx FROM nod n JOIN valid b
      ON b.y = n.y AND b.x < n.x AND n.x - b.x <= {_FN_DIST} GROUP BY n.x, n.y),
R_ AS (SELECT n.x, n.y, min(b.x) AS nx FROM nod n JOIN valid b
      ON b.y = n.y AND b.x > n.x AND b.x - n.x <= {_FN_DIST} GROUP BY n.x, n.y),
U AS (SELECT n.x, n.y, max(b.y) AS ny FROM nod n JOIN valid b
      ON b.x = n.x AND b.y < n.y AND n.y - b.y <= {_FN_DIST} GROUP BY n.x, n.y),
D AS (SELECT n.x, n.y, min(b.y) AS ny FROM nod n JOIN valid b
      ON b.x = n.x AND b.y > n.y AND b.y - n.y <= {_FN_DIST} GROUP BY n.x, n.y),
t AS (
  SELECT n.x, n.y,
         lv.v AS lv, (n.x - L.nx)::double AS ld,
         rv.v AS rv, (R_.nx - n.x)::double AS rd,
         uv.v AS uv, (n.y - U.ny)::double AS ud,
         dv.v AS dv, (D.ny - n.y)::double AS dd
  FROM nod n
  LEFT JOIN L ON L.x = n.x AND L.y = n.y
  LEFT JOIN valid lv ON lv.y = n.y AND lv.x = L.nx
  LEFT JOIN R_ ON R_.x = n.x AND R_.y = n.y
  LEFT JOIN valid rv ON rv.y = n.y AND rv.x = R_.nx
  LEFT JOIN U ON U.x = n.x AND U.y = n.y
  LEFT JOIN valid uv ON uv.x = n.x AND uv.y = U.ny
  LEFT JOIN D ON D.x = n.x AND D.y = n.y
  LEFT JOIN valid dv ON dv.x = n.x AND dv.y = D.ny),
f AS (
  SELECT x, y,
         coalesce(lv / ld, 0.0) + coalesce(rv / rd, 0.0)
       + coalesce(uv / ud, 0.0) + coalesce(dv / dd, 0.0) AS num,
         coalesce(1.0 / ld, 0.0) + coalesce(1.0 / rd, 0.0)
       + coalesce(1.0 / ud, 0.0) + coalesce(1.0 / dd, 0.0) AS den
  FROM t)
SELECT g.x AS gx, g.y AS gy,
       {SR('CASE WHEN g.v IS NOT NULL THEN g.v WHEN f.den > 0 THEN f.num / f.den END', 6)} AS val,
       (g.v IS NULL AND coalesce(f.den, 0.0) > 0) AS filled
FROM g LEFT JOIN f ON f.x = g.x AND f.y = g.y"""


@register("raster_fillnodata", _sql_fillnodata())
def q_raster_fillnodata(spark, sf_dir):
    """FillNodata (GDALFillNodata, alg/gdalfillnodata.cpp — 4-direction
    nearest-valid IDW, no smoothing): the engine's directional scans are
    last_value(ignorenulls) windows; the oracle finds each direction's
    nearest valid pixel with aggregate joins — two independent plans, same
    interpolation."""
    g = spark.range(_FN_W * _FN_W).select(
        (F.col("id") % _FN_W).cast("int").alias("gx"),
        (F.col("id") / _FN_W).cast("int").alias("gy"),
    ).select(
        "gx", "gy",
        F.when(
            (F.col("gx") * 7 + F.col("gy") * 11) % 13 == 0, F.lit(None)
        ).otherwise(
            ((F.col("gx") * 31 + F.col("gy") * 17) % 256).cast("double")
        ).alias("val"),
    )
    out = ST.fill_nodata(g, _FN_DIST, x="gx", y="gy", value="val")
    return out.select("gx", "gy", R("val", 6).alias("val"), "filled")


_PS_W = 16  # pan grid; MS at half resolution


def _sql_pansharpen() -> str:
    ms = lambda b: f"(((gx.i // 2) * 31 + (gy.i // 2) * 17 + {b} * 7) % 256)::double"
    pan = "((gx.i * 13 + gy.i * 7) % 256)::double"
    pseudo = f"(0.25 * {ms(1)} + 0.5 * {ms(2)} + 0.25 * {ms(3)})"
    sel = ", ".join(
        f"{SR(f'CASE WHEN {pseudo} > 0 THEN {ms(b)} * {pan} / {pseudo} ELSE 0.0 END', 6)} AS sharp_b{b}"
        for b in (1, 2, 3)
    )
    return f"""
WITH s AS (SELECT unnest(generate_series(0, {_PS_W - 1})) AS i)
SELECT gx.i AS gx, gy.i AS gy, {pan} AS pan, {sel}
FROM s gx CROSS JOIN s gy"""


@register("raster_pansharpen", _sql_pansharpen())
def q_raster_pansharpen(spark, sf_dir):
    """Weighted-Brovey pansharpening (GDALPansharpenOperation,
    alg/gdalpansharpen.cpp): 3 MS bands at half resolution upsampled
    nearest to the 16×16 pan grid, out_i = ms_i·pan/(Σ w_i·ms_i),
    weights (0.25, 0.5, 0.25)."""
    pan = spark.range(_PS_W * _PS_W).select(
        (F.col("id") % _PS_W).cast("int").alias("gx"),
        (F.col("id") / _PS_W).cast("int").alias("gy"),
    ).withColumn(
        "pan", ((F.col("gx") * 13 + F.col("gy") * 7) % 256).cast("double")
    )
    h = _PS_W // 2
    ms = spark.range(h * h).select(
        (F.col("id") % h).cast("int").alias("gx"),
        (F.col("id") / h).cast("int").alias("gy"),
    )
    for b in (1, 2, 3):
        ms = ms.withColumn(
            f"b{b}",
            ((F.col("gx") * 31 + F.col("gy") * 17 + b * 7) % 256)
            .cast("double"),
        )
    out = ST.pansharpen_brovey(
        pan, ms, [0.25, 0.5, 0.25], band_cols=("b1", "b2", "b3")
    )
    return out.select(
        "gx", "gy", "pan",
        *[R(f"sharp_b{b}", 6).alias(f"sharp_b{b}") for b in (1, 2, 3)],
    )


# ===========================================================================
# 22. EXACT polygon rasterization — pixel-center burn rule
#     (alg/llrasterize.cpp scanline fill == center-in-polygon sampling)
# ===========================================================================

_RZ_X0, _RZ_Y0 = -6.0, 14.0
_RZ_RES = 0.5
_RZ_NX, _RZ_NY = 84, 80  # grid covers mosaic + hexagon + L + hole polygons


@register(
    "rasterize_polygons",
    f"""WITH gx AS (SELECT unnest(generate_series(0, {_RZ_NX - 1})) AS i),
gy AS (SELECT unnest(generate_series(0, {_RZ_NY - 1})) AS j),
pts AS (
  SELECT gx.i AS i, gy.j AS j,
         {_RZ_X0!r} + (gx.i + 0.5) * {_RZ_RES!r} AS lon,
         {_RZ_Y0!r} + (gy.j + 0.5) * {_RZ_RES!r} AS lat
  FROM gx CROSS JOIN gy),
seg(poly_id, x2a, y2a, x1a, y1a) AS ({_segment_values()}),
cross_counts AS (
  SELECT p.i, p.j, s.poly_id,
         sum(CASE WHEN (((s.y1a - p.lat) > 0 AND (s.y2a - p.lat) <= 0)
                     OR ((s.y2a - p.lat) > 0 AND (s.y1a - p.lat) <= 0))
                  AND ((s.x1a - p.lon) * (s.y2a - p.lat)
                     - (s.x2a - p.lon) * (s.y1a - p.lat))
                      / ((s.y2a - p.lat) - (s.y1a - p.lat)) > 0
             THEN 1 ELSE 0 END) AS n_cross
  FROM pts p CROSS JOIN seg s
  GROUP BY p.i, p.j, s.poly_id),
burned AS (
  SELECT i, j, min(poly_id) AS poly_id
  FROM cross_counts WHERE n_cross % 2 = 1 GROUP BY i, j)
SELECT poly_id, count(*) AS n_burned,
       sum(i + j * 10000)::bigint AS px_checksum
FROM burned GROUP BY poly_id""",
)
def q_rasterize_polygons(spark, sf_dir):
    """EXACT polygon rasterization, center-burn rule: GDAL's scanline fill
    (alg/llrasterize.cpp:58 dda) burns a pixel iff its CENTER is interior —
    equivalent to a PIP test of the pixel-center lattice, which is the
    engine's broadcast map-only join. Output: per-polygon burned-pixel
    count + coordinate checksum (window covers mosaic + hexagon + L-shape +
    hole polygon, so concave shapes and holes are exercised)."""
    g = spark.range(_RZ_NX * _RZ_NY).select(
        (F.col("id") % _RZ_NX).alias("i"),
        (F.col("id") / _RZ_NX).cast("long").alias("j"),
    )
    centers = g.select(
        "i", "j",
        (F.lit(_RZ_X0) + (F.col("i") + F.lit(0.5)) * F.lit(_RZ_RES)).alias("lon"),
        (F.lit(_RZ_Y0) + (F.col("j") + F.lit(0.5)) * F.lit(_RZ_RES)).alias("lat"),
    )
    joined = PIP.pip_join(centers, polygons_df(spark), first_match=True)
    return joined.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_burned"),
        F.sum(F.col("i") + F.col("j") * 10000).alias("px_checksum"),
    )


# ===========================================================================
# 23. GeoJSON writer (ogr/ogrgeojsonwriter.cpp surface) + the dedup-pipeline
#     capstone: the SURVIVING corpus after exact + near-dup dedup
# ===========================================================================

def _geojson_values() -> str:
    rows = []
    for rec in polygon_records():
        gj = G.geojson_polygon(G.rings_to_numpy(rec["rings"])).replace("'", "''")
        rows.append(f"({rec['poly_id']}, '{gj}')")
    return "VALUES " + ", ".join(rows)


@register(
    "geom_geojson",
    f"""WITH w(poly_id, geojson) AS ({_geojson_values()})
SELECT poly_id, geojson, length(geojson) AS gj_len FROM w""",
)
def q_geom_geojson(spark, sf_dir):
    """GeoJSON geometry writer (RFC 7946 Polygon; ogrgeojsonwriter.cpp):
    serialized distributedly from the ring arrays; exact string parity
    against an independently generated VALUES oracle (the geom_wkt
    pattern)."""
    from typing import Iterator

    import pandas as pd

    p = polygons_df(spark).select("poly_id", "rings")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, gjs = [], []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                ids.append(pid)
                gjs.append(G.geojson_polygon(G.rings_to_numpy(rings)))
            yield pd.DataFrame({"poly_id": ids, "geojson": gjs})

    out = p.mapInPandas(run, "poly_id long, geojson string")
    return out.select("poly_id", "geojson", F.length("geojson").alias("gj_len"))


def _sql_corpus_dedup_final() -> str:
    """Survivors = docs that are BOTH their exact-hash group's canonical
    (min doc_id per md5(text)) AND their near-dup cluster's canonical (min
    doc_id per connected component of the MinHash pair graph; docs outside
    the pair graph survive by default)."""
    return f"""
WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_sql_minhash_pairs()}) mp),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
verts AS (SELECT DISTINCT u FROM edges),
reach(u, r) AS (
  SELECT u, u FROM verts
  UNION
  SELECT e.u, rc.r FROM edges e JOIN reach rc ON rc.u = e.v),
lab AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
exact_keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
survivors AS (
  SELECT d.doc_id, d.n_chars
  FROM documents d
  JOIN exact_keep e USING (doc_id)
  LEFT JOIN lab l USING (doc_id)
  WHERE l.cluster_id IS NULL OR l.cluster_id = d.doc_id)
SELECT count(*) AS n_docs, sum(n_chars)::bigint AS total_chars
FROM survivors"""


@register("corpus_dedup_final", _sql_corpus_dedup_final())
def q_corpus_dedup_final(spark, sf_dir):
    """The dedup-pipeline CAPSTONE: the corpus that remains after exact
    dedup (md5 canonical) AND near-dup dedup (MinHash-LSH pairs →
    connected components → cluster canonical) — the end product a training
    pipeline actually feeds downstream. One number pair the whole chain
    must agree on."""
    docs = _read(spark, sf_dir, "documents")
    exact_keep = D.exact_dedup(docs).select(
        F.col("keep_id").alias("doc_id")
    )
    pairs = D.minhash_dedup_pairs(
        docs, num_perm=MH_PERM, bands=MH_BANDS, threshold=0.5
    )
    clusters = D.connected_components(pairs).select("doc_id", "cluster_id")
    survivors = (
        docs.join(exact_keep, "doc_id")
        .join(clusters, "doc_id", "left")
        .filter(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        )
    )
    return survivors.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ===========================================================================
# 24. WKB multipolygon codec gate + sliding windows + percentile menu
# ===========================================================================

def _mp_wkb_values() -> str:
    rows = []
    for rec in multipolygon_records():
        parts = [G.rings_to_numpy(p) for p in rec["rings"]]
        hexs = G.wkb_multipolygon(parts).hex()
        rows.append(f"({rec['poly_id']}, '{hexs}')")
    return "VALUES " + ", ".join(rows)


@register(
    "wkb_multipolygon_hex",
    f"""WITH w(poly_id, wkb_hex) AS ({_mp_wkb_values()})
SELECT poly_id, wkb_hex, (length(wkb_hex) // 2)::bigint AS wkb_bytes FROM w""",
)
def q_wkb_multipolygon_hex(spark, sf_dir):
    """MULTIPOLYGON WKB writer (ISO WKB little-endian, the ogc.wkb Arrow
    convention of ogrlayerarrow.cpp:720-768): serialized distributedly,
    exact hex parity against an independently generated VALUES oracle."""
    from typing import Iterator

    import pandas as pd

    mp = multipolygons_df(spark).select("poly_id", "rings")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hx = [], []
            for pid, parts in zip(pdf["poly_id"], pdf["rings"]):
                np_parts = [G.rings_to_numpy(p) for p in parts]
                ids.append(pid)
                hx.append(G.wkb_multipolygon(np_parts).hex())
            yield pd.DataFrame({"poly_id": ids, "wkb_hex": hx})

    out = mp.mapInPandas(run, "poly_id long, wkb_hex string")
    return out.select(
        "poly_id", "wkb_hex",
        (F.length("wkb_hex") / 2).cast("bigint").alias("wkb_bytes"),
    )


@register(
    "events_sliding_windows",
    """WITH offs AS (SELECT unnest(generate_series(0, 1)) AS k),
w AS (
  SELECT e.event_id, e.event_type,
         epoch(date_trunc('hour', e.ts - INTERVAL 30 MINUTE * o.k))::bigint
           + o.k * 0 + epoch(INTERVAL 30 MINUTE * o.k)::bigint AS win_start
  FROM events e CROSS JOIN offs o
  WHERE epoch(e.ts) >= epoch(date_trunc('hour', e.ts - INTERVAL 30 MINUTE * o.k))
          + epoch(INTERVAL 30 MINUTE * o.k))
SELECT win_start, event_type, count(*) AS n
FROM w GROUP BY win_start, event_type""",
)
def q_events_sliding_windows(spark, sf_dir):
    """SLIDING event-time windows (1h window, 30min slide — the streaming
    window shape beyond tumbling; F.window slideDuration): each event lands
    in 2 overlapping windows; gate keys on the window start epoch."""
    ev = _read(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour", "30 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp").cast("double")
            .cast("bigint").alias("win_start"),
            "event_type", "n",
        )
    )


@register(
    "sql_percentiles_orders",
    f"""SELECT o_orderpriority,
       {SR('quantile_cont(o_totalprice, 0.25)', 4)} AS p25,
       {SR('quantile_cont(o_totalprice, 0.5)', 4)} AS p50,
       {SR('quantile_cont(o_totalprice, 0.75)', 4)} AS p75,
       {SR('quantile_cont(o_totalprice, 0.9)', 4)} AS p90
FROM orders GROUP BY o_orderpriority""",
)
def q_sql_percentiles_orders(spark, sf_dir):
    """Exact continuous percentiles over orders (the zonal/summary quantile
    menu — PERCENTILE_CONT linear interpolation, identical convention in
    Spark percentile() and DuckDB quantile_cont). A second percentile gate
    (``sql_percentiles``) runs the same menu over documents; register()
    raises on duplicate names so neither can shadow the other again."""
    o = _read(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        R(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        R(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        R(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        R(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
    )


# ===========================================================================
# 25. SQL-surface parity tail: string funcs, date parts, pivot
# ===========================================================================

@register(
    "sql_string_funcs",
    """SELECT o_orderkey,
       upper(o_orderpriority) AS up,
       lower(o_orderstatus) AS lo,
       replace(o_orderpriority, '-', '_') AS rep,
       lpad(o_orderkey::varchar, 8, '0') AS padded,
       substring(o_orderpriority, 3, 3) AS sub,
       strpos(o_orderpriority, '-')::int AS dash_at
FROM orders WHERE o_orderkey % 17 = 0""",
)
def q_sql_string_funcs(spark, sf_dir):
    """swq/SQLite string function reach (UPPER/LOWER/REPLACE/LPAD/SUBSTR/
    INSTR — ogr/ogrsqlitesqlfunctions.cpp + swq scalar menu) as native
    Catalyst expressions."""
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 17 == 0)
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("up"),
        F.lower("o_orderstatus").alias("lo"),
        F.replace(
            F.col("o_orderpriority"), F.lit("-"), F.lit("_")
        ).alias("rep"),
        F.lpad(F.col("o_orderkey").cast("string"), 8, "0").alias("padded"),
        F.substring("o_orderpriority", 3, 3).alias("sub"),
        F.instr(F.col("o_orderpriority"), "-").cast("int").alias("dash_at"),
    )


@register(
    "sql_date_parts",
    """SELECT year(o_orderdate)::int AS y, month(o_orderdate)::int AS m,
       count(*) AS n,
       min(day(o_orderdate))::int AS min_day,
       max(dayofyear(o_orderdate))::int AS max_doy
FROM orders GROUP BY 1, 2""",
)
def q_sql_date_parts(spark, sf_dir):
    """Date-part extraction menu (OGR date/time field semantics,
    ogr_swq date handling): year/month/day/dayofyear group rollup."""
    o = _read(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.dayofmonth("o_orderdate")).alias("min_day"),
        F.max(F.dayofyear("o_orderdate")).alias("max_doy"),
    )


_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@register(
    "events_type_pivot",
    "SELECT user_id, "
    + ", ".join(
        f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::bigint AS n_{t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY user_id",
)
def q_events_type_pivot(spark, sf_dir):
    """PIVOT/crosstab: per-user event-type counts as columns (the report
    shape of ExecuteSQL consumers) — conditional partial-agg sums, one
    shuffle."""
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(
                f"n_{t}"
            )
            for t in _EVENT_TYPES
        ]
    )


# ===========================================================================
# 26. The north-star flagship as a VALUE-VERIFIED gate: PIP spatial join +
#     XYZ tile assignment + quadkey, full output
# ===========================================================================

@register(
    "flagship_pip_tiles",
    sql_pip_cte()
    + f"""
SELECT p.o_orderkey, pip.poly_id,
       {TM.sql_tile_x('p.lon', Z_ASSIGN)} AS tx,
       {TM.sql_tile_y_xyz('p.lat', Z_ASSIGN)} AS ty,
       {TM.sql_quadkey(TM.sql_tile_x('p.lon', Z_ASSIGN), TM.sql_tile_y_xyz('p.lat', Z_ASSIGN), Z_ASSIGN)} AS quadkey
FROM pts p LEFT JOIN pip USING (o_orderkey)""",
)
def q_flagship_pip_tiles(spark, sf_dir):
    """THE north-star query, value-verified end-to-end: which polygon
    contains each page (left first-match PIP, broadcast map-only) and which
    z12 tile + quadkey it lands in — every output column checked against
    the crossing-number + tile-math oracle."""
    pts = order_points(spark, sf_dir)
    joined = PIP.pip_join(
        pts, polygons_df(spark), how="left", first_match=True
    )
    return TL.assign_tiles(joined, zoom=Z_ASSIGN).select(
        "o_orderkey", "poly_id", "tx", "ty", "quadkey"
    )


# ===========================================================================
# 27. Training-pipeline curation tail: decontamination + PII scrubbing
# ===========================================================================

_DECON_BENCH_PRED = "doc_id % 23 = 5"
_DECON_MIN_SHARED = 5


@register(
    "corpus_decontaminate",
    f"""
WITH c AS (SELECT doc_id, unnest({D.sql_shingle_hashes('text', 3)}) AS h
           FROM documents WHERE NOT ({_DECON_BENCH_PRED})),
b AS (SELECT doc_id AS bench_id, unnest({D.sql_shingle_hashes('text', 3)}) AS h
      FROM documents WHERE {_DECON_BENCH_PRED})
SELECT c.doc_id, b.bench_id, count(*) AS n_shared
FROM c JOIN b USING (h)
GROUP BY c.doc_id, b.bench_id
HAVING count(*) >= {_DECON_MIN_SHARED}""",
)
def q_corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination (the train/test n-gram-leak scan every LLM
    data pipeline runs): corpus docs sharing >= 5 distinct 3-gram shingles
    with any doc of the held-out benchmark slice. JVM shingle md5 both
    sides, equi-join on the 8-byte hash (benchmark side broadcast), one
    partial-agg count per (doc, bench) pair."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.expr(_DECON_BENCH_PRED))
    corpus = docs.filter(~F.expr(_DECON_BENCH_PRED))
    return D.decontaminate(
        corpus, bench, min_shared=_DECON_MIN_SHARED
    )


def _sql_pii() -> str:
    t2 = (
        "('u' || doc_id || '@ex.com call 555-123-4567 at 10.0.0.'"
        " || (doc_id % 256) || ' ' || substring(text, 1, 40))"
    )
    ne, np_, ni = T.sql_pii_counts(t2)
    return f"""
SELECT doc_id, md5({T.sql_pii_scrub(t2)}) AS scrubbed_md5,
       {ne} AS n_emails, {np_} AS n_phones, {ni} AS n_ips
FROM documents"""


@register("text_pii_scrub", _sql_pii())
def q_text_pii_scrub(spark, sf_dir):
    """PII scrubbing (email/phone/IPv4 redaction — map-only JVM regexp over
    the Java∩RE2 pattern dialect): deterministic PII is spliced into each
    document identically on both engines, then the scrubbed text's md5 and
    the per-class match counts must agree byte-for-byte."""
    docs = _read(spark, sf_dir, "documents")
    t2 = F.concat(
        F.lit("u"), F.col("doc_id").cast("string"),
        F.lit("@ex.com call 555-123-4567 at 10.0.0."),
        (F.col("doc_id") % 256).cast("string"), F.lit(" "),
        F.substring(F.col("text"), 1, 40),
    )
    ne, np_, ni = T.pii_counts(t2)
    return docs.select(
        "doc_id",
        F.md5(T.pii_scrub(t2)).alias("scrubbed_md5"),
        ne.alias("n_emails"), np_.alias("n_phones"), ni.alias("n_ips"),
    )


# ===========================================================================
# 28. MakeValid — bowtie/self-intersection repair (ogrgeometry.cpp:4176)
# ===========================================================================

def _mv_fixture_rows():
    def fl(rings):
        return [[[float(x), float(y)] for x, y in ring] for ring in rings]

    bowtie = fl([[[0, 0], [4, 4], [4, 0], [0, 4], [0, 0]]])
    holed = fl([
        [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],            # CCW outer
        [[3, 3], [3, 5], [5, 5], [5, 3], [3, 3]],                # CW hole
    ])
    tri = fl([[[0, 0], [6, 0], [3, 3], [0, 0]]])
    return [(1, bowtie), (2, holed), (3, tri)]


@register(
    "geom_make_valid",
    """SELECT geom_id, n_parts, n_rings, total_area FROM (VALUES
  (1, 2, 2,  8.0::double),
  (2, 1, 2, 96.0::double),
  (3, 1, 1,  9.0::double)
) AS t(geom_id, n_parts, n_rings, total_area)""",
)
def q_geom_make_valid(spark, sf_dir):
    """MakeValid (ogrgeometry.cpp:4176, GEOS MakeValid linework semantics):
    the bowtie splits into its two lobes at the noded crossing (2 parts,
    area 8 = two triangles of 4), the valid holed square and the triangle
    pass through unchanged. Oracle = hand-derived part/ring/area values."""
    import pandas as pd

    df = spark.createDataFrame(
        _mv_fixture_rows(), "geom_id int, rings array<array<array<double>>>"
    )

    def run(batches):
        for pdf in batches:
            ids, np_, nr, ar = [], [], [], []
            for gid, rings in zip(pdf["geom_id"], pdf["rings"]):
                parts = G.make_valid(G.rings_to_numpy(rings))
                ids.append(int(gid))
                np_.append(len(parts))
                nr.append(sum(len(p) for p in parts))
                ar.append(float(sum(G.rings_area(p) for p in parts)))
            yield pd.DataFrame(
                {
                    "geom_id": pd.Series(ids, dtype="int32"),
                    "n_parts": pd.Series(np_, dtype="int32"),
                    "n_rings": pd.Series(nr, dtype="int32"),
                    "total_area": pd.Series(ar, dtype="float64"),
                }
            )

    out = df.mapInPandas(
        run, "geom_id int, n_parts int, n_rings int, total_area double"
    )
    return out.select(
        "geom_id", "n_parts", "n_rings", R("total_area", 6).alias("total_area")
    )


# ===========================================================================
# 29. Corpus mixing + full-curation capstone
# ===========================================================================

def _sql_mix() -> str:
    # weight per source from its numeric suffix (1, 2 or 3); achievable
    # corpus size = min_s floor(n_s * sum_w / w_s); k_s = floor(w_s * total
    # / sum_w); the SAMPLE ITSELF is gated (md5 of the ordered id list),
    # not just its size
    return """
WITH s AS (SELECT source, count(*) AS n,
                  1 + (substring(source, 4)::int % 3) AS w
           FROM documents GROUP BY source),
sw AS (SELECT sum(w)::bigint AS sum_w FROM s),
tot AS (SELECT min((n * (SELECT sum_w FROM sw)) // w) AS total FROM s),
k AS (SELECT source, (w * (SELECT total FROM tot)) // (SELECT sum_w FROM sw) AS k_s FROM s),
r AS (SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source ORDER BY md5(doc_id::varchar), doc_id
             ) AS rk
      FROM documents)
SELECT r.source, count(*)::bigint AS n_kept,
       md5(string_agg(doc_id::varchar, ',' ORDER BY doc_id)) AS ids_md5
FROM r JOIN k USING (source) WHERE rk <= k_s
GROUP BY r.source"""


@register("corpus_mix", _sql_mix())
def q_corpus_mix(spark, sf_dir):
    """Deterministic source-mix sampling (the data-mixing step of a
    training pipeline): per-source target weights → the largest corpus
    achievable at those ratios → per-source md5-ranked exact sample. The
    per-source quota math runs on a COLLECTED per-source stats dimension
    (sources are few at any scale); the sample itself is one window per
    source partition. The gate hashes the ordered id list per source, so
    the exact sample — not just its size — is verified."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    stats = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    weights = {s: 1 + (int(s[3:]) % 3) for s in stats}
    sum_w = sum(weights.values())
    total = min((n * sum_w) // weights[s] for s, n in stats.items())
    quotas = {s: (w * total) // sum_w for s, w in weights.items()}
    quota_df = F.broadcast(
        spark.createDataFrame(
            sorted(quotas.items()), "source string, k_s long"
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    kept = (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .join(quota_df, "source")
        .filter(F.col("rk") <= F.col("k_s"))
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                ",", F.sort_array(F.collect_list("doc_id")).cast("array<string>")
            )
        ).alias("ids_md5"),
    )


_CURATE_Q_MIN = 0.5


def _sql_curate() -> str:
    frags = T.sql_quality_select("text")
    return f"""
WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_sql_minhash_pairs()}) mp),
edges AS (SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
verts AS (SELECT DISTINCT u FROM edges),
reach(u, r) AS (
  SELECT u, u FROM verts
  UNION
  SELECT e.u, rc.r FROM edges e JOIN reach rc ON rc.u = e.v),
lab AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
exact_keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, unnest({D.sql_shingle_hashes('text', 3)}) AS h
        FROM documents WHERE NOT ({_DECON_BENCH_PRED})) c
  JOIN (SELECT doc_id AS bench_id, unnest({D.sql_shingle_hashes('text', 3)}) AS h
        FROM documents WHERE {_DECON_BENCH_PRED}) b USING (h)
  GROUP BY c.doc_id, b.bench_id HAVING count(*) >= {_DECON_MIN_SHARED}),
quality AS (SELECT doc_id, {frags['q_score']} AS q FROM documents),
survivors AS (
  SELECT d.doc_id, d.n_chars
  FROM documents d
  JOIN exact_keep e USING (doc_id)
  JOIN quality q USING (doc_id)
  LEFT JOIN lab l USING (doc_id)
  WHERE NOT ({_DECON_BENCH_PRED})
    AND q.q >= {_CURATE_Q_MIN}
    AND (l.cluster_id IS NULL OR l.cluster_id = d.doc_id)
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated))
SELECT count(*)::bigint AS n_docs, sum(n_chars)::bigint AS total_chars,
       md5(string_agg(doc_id::varchar, ',' ORDER BY doc_id)) AS ids_md5
FROM survivors"""


@register("corpus_curate_final", _sql_curate())
def q_corpus_curate_final(spark, sf_dir):
    """The FULL curation capstone — the corpus a training run would
    actually ingest: exact-dedup canonical ∧ near-dup cluster canonical ∧
    quality score ≥ 0.5 ∧ not in the benchmark slice ∧ not contaminated by
    it. Every stage is an already-gated operator; this query pins their
    COMPOSITION (count, chars, and the md5 of the surviving id list)."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.expr(_DECON_BENCH_PRED))
    corpus = docs.filter(~F.expr(_DECON_BENCH_PRED))
    exact_keep = D.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    pairs = D.minhash_dedup_pairs(
        docs, num_perm=MH_PERM, bands=MH_BANDS, threshold=0.5
    )
    clusters = D.connected_components(pairs).select("doc_id", "cluster_id")
    contaminated = (
        D.decontaminate(corpus, bench, min_shared=_DECON_MIN_SHARED)
        .select("doc_id").distinct()
    )
    quality = T.quality_columns(docs).select("doc_id", "q_score")
    survivors = (
        corpus.join(exact_keep, "doc_id")
        .join(quality, "doc_id")
        .filter(F.col("q_score") >= _CURATE_Q_MIN)
        .join(clusters, "doc_id", "left")
        .filter(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        )
        .join(contaminated, "doc_id", "left_anti")
    )
    return survivors.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.md5(
            F.concat_ws(
                ",", F.sort_array(F.collect_list("doc_id")).cast("array<string>")
            )
        ).alias("ids_md5"),
    )


# ===========================================================================
# 30. Pipeline-step promotion gates: buffer / segmentize+simplify /
#     convex hull / serialized (GDALG) pipeline
# ===========================================================================

from gdal_spark import pipeline as PL  # noqa: E402

_BUF_D, _BUF_Q = 0.5, 8


@register(
    "geom_buffer",
    f"""WITH cells AS (SELECT unnest(range(0, 64)) AS poly_id)
SELECT poly_id::bigint AS poly_id, {4 * _BUF_Q + 5} AS n_points,
       {SR(f'3.0 + 7.0 * {_BUF_D} + 2.0 * {_BUF_D} * {_BUF_D} * {_BUF_Q} * sin(pi() / (2.0 * {_BUF_Q}))', 6)} AS buf_area
FROM cells""",
)
def q_geom_buffer(spark, sf_dir):
    """Round-join buffer (ogrgeometry.cpp:4942 Buffer → GEOS BufferOp,
    convex path): every 2×1.5 mosaic cell buffered by 0.5 with 8 segments
    per quarter arc. Closed-form oracle: area = A + P·d + Σ discretized
    corner fans = A + P·d + 2·d²·q·sin(π/2q); vertex count 4q+5."""
    import pandas as pd

    a = polygons_df(spark).filter(F.col("poly_id") < 64)
    buf = PL.buffer(a, _BUF_D, quad_segs=_BUF_Q)

    def meas(batches):
        for pdf in batches:
            ids, np_, ar = [], [], []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                rr = G.rings_to_numpy(rings)
                ids.append(int(pid))
                np_.append(int(rr[0].shape[0]))
                ar.append(G.rings_area(rr))
            yield pd.DataFrame(
                {
                    "poly_id": pd.Series(ids, dtype="int64"),
                    "n_points": pd.Series(np_, dtype="int32"),
                    "buf_area": pd.Series(ar, dtype="float64"),
                }
            )

    out = buf.mapInPandas(meas, "poly_id long, n_points int, buf_area double")
    return out.select(
        "poly_id", "n_points", R("buf_area", 6).alias("buf_area")
    )


def _seg_oracle_values() -> str:
    # per-cell expected vertex counts from the ACTUAL envelope floats: the
    # mosaic coordinates are derived floats, so an edge can measure
    # 2.0000000000000004 and ceil(len/0.5) gains a segment — mirror the
    # exact doubles, not the nominal 2x1.5
    import math as _m

    rows = []
    for rec in polygon_records()[:64]:
        w = rec["xmax"] - rec["xmin"]
        h = rec["ymax"] - rec["ymin"]
        n_seg = 1 + 2 * (_m.ceil(w / 0.5) + _m.ceil(h / 0.5))
        rows.append(f"({rec['poly_id']}, {n_seg})")
    return "VALUES " + ", ".join(rows)


@register(
    "geom_segmentize_simplify",
    "WITH cells(poly_id, n_seg) AS (" + _seg_oracle_values() + ")\n"
    "SELECT poly_id::bigint AS poly_id, n_seg, 5 AS n_simplified, "
    + SR("3.0", 6) + " AS area FROM cells",
)
def q_geom_segmentize_simplify(spark, sf_dir):
    """segmentize (max 0.5: the 2.0 edges split in 4, the 1.5 edges in 3 →
    15 ring vertices) then Douglas–Peucker simplify (tol 1e-9: collinear
    inserts removed → back to the 5 corner vertices), area invariant
    throughout (ogrgeometry.cpp:6771 Simplify / OGRSimpleCurve::segmentize
    semantics)."""
    import pandas as pd

    a = polygons_df(spark).filter(F.col("poly_id") < 64)
    seg = PL.segmentize(a, 0.5)

    def count1(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "poly_id": pdf["poly_id"].astype("int64"),
                    "n_seg": [
                        len(r[0]) for r in pdf["rings"]
                    ],
                }
            )

    n_seg = seg.mapInPandas(count1, "poly_id long, n_seg int")
    simp = PL.simplify(seg, 1e-9)

    def count2(batches):
        for pdf in batches:
            rows_n, rows_a = [], []
            for rings in pdf["rings"]:
                rr = G.rings_to_numpy(rings)
                rows_n.append(int(rr[0].shape[0]))
                rows_a.append(G.rings_area(rr))
            yield pd.DataFrame(
                {
                    "poly_id": pdf["poly_id"].astype("int64"),
                    "n_simplified": pd.Series(rows_n, dtype="int32"),
                    "area": pd.Series(rows_a, dtype="float64"),
                }
            )

    fin = simp.mapInPandas(
        count2, "poly_id long, n_simplified int, area double"
    )
    return (
        n_seg.join(fin, "poly_id")
        .select("poly_id", "n_seg", "n_simplified", R("area", 6).alias("area"))
    )


@register(
    "geom_convex_hull",
    f"""SELECT poly_id, n_hull, {SR('hull_area', 6)} AS hull_area FROM (VALUES
  (65::bigint, 5, 14.0),
  (66::bigint, 4, 48.0),
  (0::bigint, 4, 3.0),
  (9::bigint, 4, 3.0)
) AS t(poly_id, n_hull, hull_area)""",
)
def q_geom_convex_hull(spark, sf_dir):
    """ConvexHull (ogrgeometry.cpp:4442, Andrew monotone chain): the
    L-shape's hull fills its notch (5 vertices, area 16−2), the holed
    polygon's hull is its outer rect (hole ignored, area 48), rect cells
    hull to themselves."""
    import pandas as pd

    a = polygons_df(spark).filter(F.col("poly_id").isin(65, 66, 0, 9))
    h = PL.convex_hull(a)

    def meas(batches):
        for pdf in batches:
            ids, nh, ar = [], [], []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                rr = G.rings_to_numpy(rings)
                ids.append(int(pid))
                nh.append(int(rr[0].shape[0] - 1))  # distinct hull vertices
                ar.append(G.rings_area(rr))
            yield pd.DataFrame(
                {
                    "poly_id": pd.Series(ids, dtype="int64"),
                    "n_hull": pd.Series(nh, dtype="int32"),
                    "hull_area": pd.Series(ar, dtype="float64"),
                }
            )

    out = h.mapInPandas(meas, "poly_id long, n_hull int, hull_area double")
    return out.select(
        "poly_id", "n_hull", R("hull_area", 6).alias("hull_area")
    )


_GDALG_SPEC = {
    "input": "orders",
    "pipeline": [
        {"step": "filter", "where": "o_orderkey % 3 = 1"},
        {"step": "select", "fields": ["o_orderkey", "o_totalprice"]},
        {"step": "sort", "by": ["o_totalprice", "o_orderkey"], "desc": True},
        {"step": "limit", "n": 20},
    ],
}


@register(
    "pipeline_gdalg",
    """SELECT o_orderkey, o_totalprice FROM orders
WHERE o_orderkey % 3 = 1
ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 20""",
)
def q_pipeline_gdalg(spark, sf_dir):
    """Serialized-pipeline evaluation (the GDALG format analog,
    frmts/gdalg/gdalgdriver.cpp): a JSON pipeline document —
    filter → select → sort → limit — deserialized into the lazy Spark plan
    and executed on action; oracle is the equivalent plain SQL."""
    import json

    return PL.run_serialized(
        json.dumps(_GDALG_SPEC), orders=_read(spark, sf_dir, "orders")
    )


# ===========================================================================
# 31. DEM menu completion: aspect / TPI / TRI / roughness / color-relief
#     (apps/gdaldem_lib.cpp) over the distributed 3x3 neighborhood pivot
# ===========================================================================

from gdal_spark.operators import dem as DEM  # noqa: E402
from gdal_spark.operators import rastermath as RM  # noqa: E402

_R2D = repr(180.0 / 3.141592653589793)  # 180/pi, same literal both engines


def _dem_cells(spark, w: int):
    """Closed-form integer DEM materialized as a DISTRIBUTED (gx, gy, val)
    raster — the operators see an opaque cell table, not the formula."""
    return spark.range(w * w).select(
        (F.col("id") % w).alias("gx"),
        (F.col("id") / w).cast("long").alias("gy"),
        (
            ((F.col("id") % w) * (F.col("id") % w)) % 97
            + ((F.col("id") / w).cast("long") * 13) % 89
        ).cast("double").alias("val"),
    )


def _sql_dem_menu() -> str:
    nbr = {}
    for k, (dx, dy) in enumerate(
        [(ddx, ddy) for ddy in (-1, 0, 1) for ddx in (-1, 0, 1)]
    ):
        nbr[k] = _dem_pix(f"x + {dx}", f"y + {dy}")
    hdx = (
        f"((({nbr[2]}) + ({nbr[5]}) + ({nbr[5]}) + ({nbr[8]})) - "
        f"(({nbr[0]}) + ({nbr[3]}) + ({nbr[3]}) + ({nbr[6]})))"
    )
    hdy = (
        f"((({nbr[6]}) + ({nbr[7]}) + ({nbr[7]}) + ({nbr[8]})) - "
        f"(({nbr[0]}) + ({nbr[1]}) + ({nbr[1]}) + ({nbr[2]})))"
    )
    zdx = f"(({nbr[5]}) - ({nbr[3]}))"
    zdy = f"(({nbr[7]}) - ({nbr[1]}))"

    def az(dx, dy):
        a = f"(atan2(-({dx}), ({dy})) * {_R2D})"
        return (
            f"CASE WHEN ({dx}) = 0 AND ({dy}) = 0 THEN -9999.0 "
            f"WHEN {a} < 0 THEN {a} + 360.0 ELSE {a} END"
        )

    def trig(dx, dy):
        a = f"(atan2(({dy}), -({dx})) * {_R2D})"
        return (
            f"CASE WHEN ({dx}) = 0 AND ({dy}) = 0 THEN -9999.0 "
            f"WHEN {a} < 0 THEN {a} + 360.0 ELSE {a} END"
        )

    sq_sum = " + ".join(
        f"(({nbr[k]}) - ({nbr[4]})) * (({nbr[k]}) - ({nbr[4]}))"
        for k in range(9) if k != 4
    )
    abs_sum = " + ".join(
        f"abs(({nbr[k]}) - ({nbr[4]}))" for k in range(9) if k != 4
    )
    n_sum = " + ".join(f"({nbr[k]})" for k in range(9) if k != 4)
    all9 = ", ".join(f"({nbr[k]})" for k in range(9))
    return f"""
WITH g AS (SELECT unnest(generate_series(1, {_DEM_W - 2})) AS i),
px AS (SELECT gx.i AS x, gy.i AS y FROM g gx CROSS JOIN g gy)
SELECT x, y,
       {SR(az(hdx, hdy), 6)} AS aspect_az,
       {SR(az(zdx, zdy), 6)} AS aspect_zt,
       {SR(trig(hdx, hdy), 6)} AS aspect_trig,
       {SR(f'sqrt({sq_sum})', 6)} AS tri_riley,
       {SR(f'({abs_sum}) * 0.125', 6)} AS tri_wilson,
       {SR(f'({nbr[4]}) - ({n_sum}) * 0.125', 6)} AS tpi,
       {SR(f'greatest({all9}) - least({all9})', 6)} AS roughness
FROM px"""


@register("dem_aspect_menu", _sql_dem_menu())
def q_dem_aspect_menu(spark, sf_dir):
    """gdaldem aspect (Horn + Zevenbergen-Thorne, azimuth + trig modes),
    TRI (Riley + Wilson), TPI and roughness (apps/gdaldem_lib.cpp:1441,
    1481,2317,2330,2354,2369) over the distributed 3x3 neighborhood pivot:
    one explode + one groupBy(pixel) shuffle, kernels as pure column math
    in whole-stage codegen."""
    cells = _dem_cells(spark, _DEM_W)
    win = DEM.neighborhood3x3(cells, "gx", "gy", "val")
    return win.select(
        F.col("gx").alias("x"), F.col("gy").alias("y"),
        R(DEM.aspect_col(), 6).alias("aspect_az"),
        R(DEM.aspect_col(zevenbergen=True), 6).alias("aspect_zt"),
        R(DEM.aspect_col(azimuth=False), 6).alias("aspect_trig"),
        R(DEM.tri_riley_col(), 6).alias("tri_riley"),
        R(DEM.tri_wilson_col(), 6).alias("tri_wilson"),
        R(DEM.tpi_col(), 6).alias("tpi"),
        R(DEM.roughness_col(), 6).alias("roughness"),
    )


_RELIEF_ENTRIES = [
    (0.0, 0, 0, 255, 255),
    (60.0, 0, 255, 0, 255),
    (120.0, 255, 255, 0, 255),
    (180.0, 255, 0, 0, 255),
]


def _sql_color_relief() -> str:
    r, g, b, a = DEM.sql_color_relief(_dem_pix("x", "y"), _RELIEF_ENTRIES)
    return f"""
WITH g AS (SELECT unnest(generate_series(0, {_DEM_W - 1})) AS i),
px AS (SELECT gx.i AS x, gy.i AS y FROM g gx CROSS JOIN g gy)
SELECT x, y, {r} AS r, {g} AS g, {b} AS b, {a} AS a FROM px"""


@register("dem_color_relief", _sql_color_relief())
def q_dem_color_relief(spark, sf_dir):
    """gdaldem color-relief, interpolate mode (GDALColorReliefGetRGBA,
    apps/gdaldem_lib.cpp:1639): breakpoint LUT with per-channel linear
    interpolation clamp(floor(0.5 + c0 + ratio*(c1-c0)), 0, 255), end
    colors clamped.  Map-only generated CASE — no UDF, no join."""
    cells = _dem_cells(spark, _DEM_W)
    r, g, b, a = DEM.color_relief_cols(F.col("val"), _RELIEF_ENTRIES)
    return cells.select(
        F.col("gx").alias("x"), F.col("gy").alias("y"),
        r.alias("r"), g.alias("g"), b.alias("b"), a.alias("a"),
    )


def _sql_hillshade_menu() -> str:
    nbr = [
        _dem_pix(f"x + {dx}", f"y + {dy}")
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ]
    cols = ", ".join(
        f"{SR(DEM.sql_hillshade(m, nbr), 5)} AS hs_{m[:5]}"
        for m in ("standard", "combined", "igor", "multidirectional")
    )
    zt = SR(DEM.sql_hillshade("standard", nbr, zevenbergen=True), 5)
    return f"""
WITH g AS (SELECT unnest(generate_series(1, {_DEM_W - 2})) AS i),
px AS (SELECT gx.i AS x, gy.i AS y FROM g gx CROSS JOIN g gy)
SELECT x, y, {cols}, {zt} AS hs_zt FROM px"""


@register("dem_hillshade_menu", _sql_hillshade_menu())
def q_dem_hillshade_menu(spark, sf_dir):
    """gdaldem hillshade menu — standard (254-scaled lambertian,
    GDALHillshadeAlg apps/gdaldem_lib.cpp:1016), -combined (:1151),
    -igor (:947) and -multidirectional (USGS OF 92-422, :1255), plus the
    Zevenbergen-Thorne gradient variant — over the distributed 3x3
    neighborhood pivot: one explode + one groupBy(pixel) shuffle, then
    all five shaders as whole-stage-codegen column math (float64
    rendering of the reference's float32 kernels)."""
    cells = _dem_cells(spark, _DEM_W)
    win = DEM.neighborhood3x3(cells, "gx", "gy", "val")
    return win.select(
        F.col("gx").alias("x"), F.col("gy").alias("y"),
        *[
            R(DEM.hillshade_col(m), 5).alias(f"hs_{m[:5]}")
            for m in ("standard", "combined", "igor", "multidirectional")
        ],
        R(DEM.hillshade_col("standard", zevenbergen=True), 5)
        .alias("hs_zt"),
    )


# ===========================================================================
# 32. Band-level raster math: checksum / stats / histogram / reclassify /
#     calc / mosaic / locationinfo (alg/gdalchecksum.cpp,
#     gcore/gdalrasterband.cpp, frmts/vrt/vrtreclassifier.cpp,
#     apps/gdalalg_raster_{calc,reclassify}.cpp, gdal_merge,
#     gdallocationinfo)
# ===========================================================================


def _sql_cs(val: str) -> str:
    return RM.sql_checksum_term("x", "y", val, _DEM_W)


@register(
    "raster_checksum",
    f"""WITH g AS (SELECT unnest(generate_series(0, {_DEM_W - 1})) AS i),
px AS (SELECT gx.i AS x, gy.i AS y FROM g gx CROSS JOIN g gy),
v AS (SELECT x, y, {_dem_pix('x', 'y')} AS val FROM px)
SELECT (sum({_sql_cs('val')}) % 65536)::int AS cs_int,
       (sum({_sql_cs('val * 0.5 + 0.25')}) % 65536)::int AS cs_float
FROM v""",
)
def q_raster_checksum(spark, sf_dir):
    """GDALChecksumImage (alg/gdalchecksum.cpp:48) — the reference
    autotest suite's canonical oracle — as a distributed reduction:
    per-pixel int(val) % primes[(y*W+x) % 11], one global SUM, 16-bit
    mask once at the end (mask commutes with addition).  cs_float runs
    the float->Int32 GDALCopyWords rule (floor(v+0.5)) first."""
    cells = _dem_cells(spark, _DEM_W)
    idx = (F.col("gy") * F.lit(_DEM_W) + F.col("gx")) % 11
    prime = F.element_at(
        F.array(*[F.lit(p) for p in RM.CHECKSUM_PRIMES]),
        (idx + 1).cast("int"),
    )
    t1 = RM.checksum_int_col(F.col("val")) % prime
    t2 = RM.checksum_int_col(F.col("val") * 0.5 + 0.25) % prime
    return cells.agg(
        F.pmod(F.sum(t1), F.lit(65536)).cast("int").alias("cs_int"),
        F.pmod(F.sum(t2), F.lit(65536)).cast("int").alias("cs_float"),
    )


@register(
    "raster_stats",
    f"""WITH g AS (SELECT unnest(generate_series(0, {_DEM_W - 1})) AS i),
v AS (SELECT {_dem_pix('gx.i', 'gy.i')} AS val
      FROM g gx CROSS JOIN g gy)
SELECT min(val) AS vmin, max(val) AS vmax,
       {SR('avg(val)', 6)} AS vmean,
       {SR('sqrt(avg(val * val) - avg(val) * avg(val))', 6)} AS vstddev,
       count(*)::bigint AS n
FROM v""",
)
def q_raster_stats(spark, sf_dir):
    """GDALRasterBand::ComputeStatistics (gcore/gdalrasterband.cpp):
    min / max / mean / POPULATION stddev (sqrt(E[x^2] - mean^2)) — one
    partially-aggregated reduction, exact because the DEM is integer-
    valued (double sums < 2^53 are exact in both engines)."""
    out = RM.compute_statistics(_dem_cells(spark, _DEM_W))
    return out.select(
        "vmin", "vmax",
        R("vmean", 6).alias("vmean"),
        R("vstddev", 6).alias("vstddev"),
        F.col("n").cast("long").alias("n"),
    )


_HIST_MIN, _HIST_MAX, _HIST_NB = 0.0, 160.0, 32


@register(
    "raster_histogram",
    f"""WITH g AS (SELECT unnest(generate_series(0, {_DEM_W - 1})) AS i),
v AS (SELECT {_dem_pix('gx.i', 'gy.i')} AS val
      FROM g gx CROSS JOIN g gy),
b AS (SELECT greatest(0, least({_HIST_NB - 1},
        floor((val - {_HIST_MIN!r}) * {_HIST_NB / (_HIST_MAX - _HIST_MIN)!r})::bigint
      )) AS bucket FROM v),
c AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket)
SELECT f.bucket, coalesce(c.n, 0)::bigint AS n
FROM (SELECT unnest(generate_series(0, {_HIST_NB - 1}))::bigint AS bucket) f
LEFT JOIN c USING (bucket)""",
)
def q_raster_histogram(spark, sf_dir):
    """GDALRasterBand::GetHistogram (gcore/gdalrasterband.cpp): bucket =
    floor((val - min) * nBuckets/(max-min)), out-of-range clamped into the
    end buckets (bIncludeOutOfRange), zero-filled bucket frame.  One
    groupBy on <= 32 keys with map-side combine + a broadcast zero-fill
    join."""
    out = RM.histogram(
        _dem_cells(spark, _DEM_W), _HIST_MIN, _HIST_MAX, _HIST_NB,
        include_out_of_range=True,
    )
    return out.select("bucket", F.col("n").cast("long").alias("n"))


_RECLASS_MAP = (
    "[0,40)=1;[40,90)=2;[90,140]=3;(140,160)=PASS_THROUGH;"
    "160=7;NO_DATA=0;DEFAULT=9"
)


@register(
    "raster_reclassify",
    f"""WITH g AS (SELECT unnest(generate_series(0, {_DEM_W - 1})) AS i),
v AS (SELECT gx.i AS x, gy.i AS y, {_dem_pix('gx.i', 'gy.i')} AS val
      FROM g gx CROSS JOIN g gy)
SELECT x, y,
       CASE WHEN val >= 0 AND val < 40 THEN 1.0
            WHEN val >= 40 AND val < 90 THEN 2.0
            WHEN val >= 90 AND val <= 140 THEN 3.0
            WHEN val > 140 AND val < 160 THEN val
            WHEN val = 160 THEN 7.0
            WHEN val = -1.0 THEN 0.0
            ELSE 9.0 END AS val_out
FROM v""",
)
def q_raster_reclassify(spark, sf_dir):
    """gdal raster reclassify (frmts/vrt/vrtreclassifier.cpp grammar:
    open/closed intervals, constants, NO_DATA, PASS_THROUGH, DEFAULT) —
    the mapping string parsed into one generated CASE column, map-only."""
    cells = _dem_cells(spark, _DEM_W)
    return cells.select(
        F.col("gx").alias("x"), F.col("gy").alias("y"),
        RM.reclassify_col(
            F.col("val"), _RECLASS_MAP, nodata=-1.0
        ).alias("val_out"),
    )


@register(
    "raster_calc_ndvi",
    f"""WITH g AS (SELECT unnest(generate_series(0, {_DEM_W - 1})) AS i),
px AS (SELECT gx.i AS x, gy.i AS y FROM g gx CROSS JOIN g gy),
ab AS (SELECT x, y,
         ((x * 3 + y * 7) % 50 + 10)::double AS A,
         ((x * 5 + y * 11) % 60 + 20)::double AS B
       FROM px)
SELECT x, y, {SR('(B - A) / (B + A)', 6)} AS ndvi FROM ab""",
)
def q_raster_calc_ndvi(spark, sf_dir):
    """gdal raster calc (apps/gdalalg_raster_calc.cpp): named-band pixel
    algebra — two band rasters equi-joined on the compact pixel key, the
    expression as one JVM column expression (co-partitioned join + map)."""
    w = _DEM_W
    px = spark.range(w * w).select(
        (F.col("id") % w).alias("gx"),
        (F.col("id") / w).cast("long").alias("gy"),
    )
    band_a = px.select(
        "gx", "gy",
        ((F.col("gx") * 3 + F.col("gy") * 7) % 50 + 10)
        .cast("double").alias("val"),
    )
    band_b = px.select(
        "gx", "gy",
        ((F.col("gx") * 5 + F.col("gy") * 11) % 60 + 20)
        .cast("double").alias("val"),
    )
    out = RM.raster_calc({"A": band_a, "B": band_b}, "(B - A) / (B + A)")
    return out.select(
        F.col("gx").alias("x"), F.col("gy").alias("y"),
        R("val", 6).alias("ndvi"),
    )


_MOSAIC_ND = 255.0


@register(
    "raster_mosaic",
    f"""WITH g AS (SELECT unnest(generate_series(0, {_DEM_W - 1})) AS i),
r1 AS (SELECT gx.i AS x, gy.i AS y,
         CASE WHEN (gx.i + gy.i) % 5 = 0 THEN {_MOSAIC_ND!r}
              ELSE ((gx.i * 7 + gy.i * 3) % 100)::double END AS v,
         0 AS src
       FROM g gx CROSS JOIN g gy WHERE gx.i < 48),
r2 AS (SELECT gx.i AS x, gy.i AS y,
         CASE WHEN (gx.i * gy.i) % 7 = 0 THEN {_MOSAIC_ND!r}
              ELSE ((gx.i * 11 + gy.i) % 90)::double END AS v,
         1 AS src
       FROM g gx CROSS JOIN g gy WHERE gx.i >= 32),
u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
SELECT x AS gx, y AS gy, arg_max(v, src) AS val
FROM u WHERE v <> {_MOSAIC_ND!r} GROUP BY x, y""",
)
def q_raster_mosaic(spark, sf_dir):
    """gdal_merge / gdal raster mosaic: inputs stack in argument order,
    LAST non-nodata wins per pixel — union + one groupBy(pixel) with
    max_by partial aggregation (no join, no window)."""
    w = _DEM_W
    px = spark.range(w * w).select(
        (F.col("id") % w).alias("gx"),
        (F.col("id") / w).cast("long").alias("gy"),
    )
    nd = F.lit(_MOSAIC_ND)
    r1 = px.filter(F.col("gx") < 48).select(
        "gx", "gy",
        F.when((F.col("gx") + F.col("gy")) % 5 == 0, nd)
        .otherwise(((F.col("gx") * 7 + F.col("gy") * 3) % 100)
                   .cast("double")).alias("val"),
    )
    r2 = px.filter(F.col("gx") >= 32).select(
        "gx", "gy",
        F.when((F.col("gx") * F.col("gy")) % 7 == 0, nd)
        .otherwise(((F.col("gx") * 11 + F.col("gy")) % 90)
                   .cast("double")).alias("val"),
    )
    return RM.mosaic([r1, r2], nodata=_MOSAIC_ND)


_LOC_W = 256  # zoom-0 world raster, 256x256 "pixels"
_LOC_ORG = 20037508.342789244
_LOC_PS = 2.0 * _LOC_ORG / _LOC_W


@register(
    "raster_locationinfo",
    f"""WITH pts AS (
  SELECT o_orderkey, {sql_lon('o_orderkey')} AS lon,
         {sql_lat('o_orderkey')} AS lat
  FROM orders WHERE o_orderkey % 7 = 0),
pl AS (
  SELECT o_orderkey,
         floor(({TM.sql_meters_x('lon')} - (-{_LOC_ORG!r})) / {_LOC_PS!r})::bigint AS pixel,
         floor(({_LOC_ORG!r} - {TM.sql_meters_y('lat')}) / {_LOC_PS!r})::bigint AS line
  FROM pts)
SELECT o_orderkey, pixel, line,
       ((pixel * pixel) % 97 + (line * 13) % 89)::double AS value
FROM pl""",
)
def q_raster_locationinfo(spark, sf_dir):
    """gdallocationinfo: web-page geotag points -> inverse geotransform
    (pixel = floor((X - originX)/ps), line = floor((originY - Y)/ps)) ->
    band value under each point, via a BROADCAST equi-join on the compact
    (pixel, line) key against the zoom-0 world raster."""
    pts = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 7 == 0
    ).select(
        "o_orderkey",
        derived_lon(F.col("o_orderkey")).alias("lon"),
        derived_lat(F.col("o_orderkey")).alias("lat"),
    )
    mx, my = TM.lonlat_to_meters(F.col("lon"), F.col("lat"))
    pts = pts.select("o_orderkey", mx.alias("mx"), my.alias("my"))
    w = _LOC_W
    cells = spark.range(w * w).select(
        (F.col("id") % w).alias("gx"),
        (F.col("id") / w).cast("long").alias("gy"),
        (
            ((F.col("id") % w) * (F.col("id") % w)) % 97
            + ((F.col("id") / w).cast("long") * 13) % 89
        ).cast("double").alias("val"),
    )
    out = RM.locationinfo(
        pts, cells, origin_x=-_LOC_ORG, origin_y=_LOC_ORG,
        pixel_size=_LOC_PS,
    )
    return out.select("o_orderkey", "pixel", "line",
                      F.col("value").alias("value"))


# ===========================================================================
# 33. Line rasterization: Bresenham burn + ALL_TOUCHED supercover
#     (alg/llrasterize.cpp GDALdllImageLine:256 /
#      GDALdllImageLineAllTouched:407) — closed-form re-derivations,
#     explode + column math, one merge shuffle
# ===========================================================================

from gdal_spark.operators import rasterize_lines as RL  # noqa: E402

_RLINES_W = 64  # 64x64 target raster


def _rlines_segments(spark):
    """Deterministic polyline fixture: 40 two-segment slanted lines plus
    8 vertical and 8 horizontal single-segment lines, all with
    non-integer coordinates (fractions >= 0.05) inside the 64x64 grid."""
    j = F.col("id")

    def vx(i):
        return ((j * 7 + i * 13) % 57).cast("double") \
            + ((j * 3 + i) % 10).cast("double") * 0.1 + 0.05

    def vy(i):
        return ((j * 11 + i * 5) % 57).cast("double") \
            + ((j + i * 7) % 10).cast("double") * 0.1 + 0.05

    slant = None
    for i in (0, 1):
        seg = spark.range(40).select(
            j.alias("line_id"), F.lit(i).alias("seq"),
            F.lit(i == 1).alias("is_last"),
            vx(i).alias("x0"), vy(i).alias("y0"),
            vx(i + 1).alias("x1"), vy(i + 1).alias("y1"),
            ((j % 5) + 1).cast("double").alias("burn"),
        )
        slant = seg if slant is None else slant.unionAll(seg)
    vert = spark.range(8).select(
        (j + 100).alias("line_id"), F.lit(0).alias("seq"),
        F.lit(True).alias("is_last"),
        ((j * 6 % 50).cast("double") + 0.35).alias("x0"),
        ((j * 5 % 40).cast("double") + 0.2).alias("y0"),
        ((j * 6 % 50).cast("double") + 0.35).alias("x1"),
        ((j * 5 % 40).cast("double") + 7.8 + j.cast("double")).alias("y1"),
        F.lit(2.0).alias("burn"),
    )
    horz = spark.range(8).select(
        (j + 200).alias("line_id"), F.lit(0).alias("seq"),
        F.lit(True).alias("is_last"),
        ((j * 4 % 45).cast("double") + 0.6).alias("x0"),
        ((j * 9 % 50).cast("double") + 0.45).alias("y0"),
        ((j * 4 % 45).cast("double") + 9.3 + j.cast("double")).alias("x1"),
        ((j * 9 % 50).cast("double") + 0.45).alias("y1"),
        F.lit(3.0).alias("burn"),
    )
    return slant.unionAll(vert).unionAll(horz)


_RLINES_SEGS_SQL = """segs AS (
  SELECT j AS line_id, i AS seq, i = 1 AS is_last,
         ((j * 7 + i * 13) % 57)::double
           + ((j * 3 + i) % 10)::double * 0.1 + 0.05 AS x0,
         ((j * 11 + i * 5) % 57)::double
           + ((j + i * 7) % 10)::double * 0.1 + 0.05 AS y0,
         ((j * 7 + (i + 1) * 13) % 57)::double
           + ((j * 3 + i + 1) % 10)::double * 0.1 + 0.05 AS x1,
         ((j * 11 + (i + 1) * 5) % 57)::double
           + ((j + (i + 1) * 7) % 10)::double * 0.1 + 0.05 AS y1,
         ((j % 5) + 1)::double AS burn
  FROM (SELECT unnest(generate_series(0, 39)) AS j),
       (SELECT unnest(generate_series(0, 1)) AS i)
  UNION ALL
  SELECT j + 100, 0, true,
         (j * 6 % 50)::double + 0.35, (j * 5 % 40)::double + 0.2,
         (j * 6 % 50)::double + 0.35,
         (j * 5 % 40)::double + 7.8 + j::double, 2.0
  FROM (SELECT unnest(generate_series(0, 7)) AS j)
  UNION ALL
  SELECT j + 200, 0, true,
         (j * 4 % 45)::double + 0.6, (j * 9 % 50)::double + 0.45,
         (j * 4 % 45)::double + 9.3 + j::double,
         (j * 9 % 50)::double + 0.45, 3.0
  FROM (SELECT unnest(generate_series(0, 7)) AS j)
)"""


@register(
    "rasterize_lines_bresenham",
    f"""WITH {_RLINES_SEGS_SQL},
px AS ({RL.sql_bresenham_pixels('segs', _RLINES_W, _RLINES_W)})
SELECT ix, iy, sum(burn) AS val FROM px GROUP BY ix, iy""",
)
def q_rasterize_lines_bresenham(spark, sf_dir):
    """gdal_rasterize over linestrings, default (Bresenham) burn with
    MERGE_ALG=ADD (GDALdllImageLine, alg/llrasterize.cpp:256): the error
    recurrence replaced by its closed form off(k) = ceil((2k*dmin -
    dmax)/(2*dmax)), so the whole burn is explode + JVM column math and
    ONE groupBy(pixel) merge shuffle; intermediate polyline vertices
    burn once (non-final segment end points skipped, :330)."""
    segs = _rlines_segments(spark)
    px = RL.burn_segments_bresenham(segs, _RLINES_W, _RLINES_W)
    return RL.merge_burns(px, merge_alg="add")


@register(
    "rasterize_lines_all_touched",
    f"""WITH {_RLINES_SEGS_SQL},
px AS ({RL.sql_all_touched_pixels('segs', _RLINES_W, _RLINES_W)})
SELECT ix, iy, arg_max(burn, line_id * 1000000 + seq) AS val
FROM px GROUP BY ix, iy""",
)
def q_rasterize_lines_all_touched(spark, sf_dir):
    """gdal_rasterize -at (ALL_TOUCHED supercover,
    GDALdllImageLineAllTouched alg/llrasterize.cpp:407) with the default
    last-feature-wins merge: the stepping loop re-derived as per-column
    row spans (rising: r_hi = ceil(y_exit)-1, falling: r_lo =
    floor(y_exit); vertical/horizontal .01 thresholds with the 1e-4
    end-pixel epsilon) — two nested explodes, one merge shuffle."""
    segs = _rlines_segments(spark)
    px = RL.burn_segments_all_touched(segs, _RLINES_W, _RLINES_W)
    return RL.merge_burns(px, merge_alg="replace")


# ===========================================================================
# 34. Polygon ALL_TOUCHED rasterization (gdal_rasterize -at over polygons):
#     supercover boundary burn with bIntersectOnly=true + scanline interior
#     fill (gdalrasterize.cpp:740-778 composition)
# ===========================================================================

_RAT_W = 40  # 40x40 pixel-space grid


def _rat_polys():
    """Pixel-space polygon fixture exercising every -at boundary class:
      0 diamond        — slanted edges (general supercover case);
      1 L-shape        — OFF-grid axis-aligned edges (vertical/horizontal
                         special cases with the floor(end - 1e-4) epsilon);
      2 aligned square — edges within 1e-4 of pixel boundaries: skipped
                         entirely by bIntersectOnly (GDAL #6414/#7523), so
                         the burn equals the interior fill alone;
      3 triangle+hole  — hole-ring boundaries burn too."""
    D = [(20.35, 4.45), (35.65, 19.75), (20.35, 35.05), (5.05, 19.75),
         (20.35, 4.45)]
    L = [(2.35, 2.45), (12.85, 2.45), (12.85, 6.55), (6.15, 6.55),
         (6.15, 12.25), (2.35, 12.25), (2.35, 2.45)]
    S = [(30.00004, 30.00004), (38.00004, 30.00004), (38.00004, 38.00004),
         (30.00004, 38.00004), (30.00004, 30.00004)]
    T_out = [(4.35, 24.55), (16.85, 24.55), (10.55, 37.45), (4.35, 24.55)]
    T_hole = [(8.35, 27.55), (10.45, 31.85), (12.65, 27.55), (8.35, 27.55)]
    return [(0, [D]), (1, [L]), (2, [S]), (3, [T_out, T_hole])]


def _rat_segment_rows():
    rows = []
    for pid, rings in _rat_polys():
        seq = 0
        for ring in rings:
            for a, b in zip(ring, ring[1:]):
                rows.append((pid, seq, True, a[0], a[1], b[0], b[1],
                             float(pid)))
                seq += 1
    return rows


def _sql_rat() -> str:
    seg_vals = ", ".join(
        f"({pid}, {seq}, {x0!r}::double, {y0!r}::double, "
        f"{x1!r}::double, {y1!r}::double, {b!r}::double)"
        for pid, seq, _, x0, y0, x1, y1, b in _rat_segment_rows()
    )
    at_sql = RL.sql_all_touched_pixels("segs", _RAT_W, _RAT_W,
                                       intersect_only=True)
    return f"""
WITH segs(line_id, seq, x0, y0, x1, y1, burn) AS (VALUES {seg_vals}),
g AS (SELECT unnest(generate_series(0, {_RAT_W - 1})) AS i),
ctr AS (SELECT gx.i AS i, gy.i AS j, gx.i + 0.5 AS cx, gy.i + 0.5 AS cy
        FROM g gx CROSS JOIN g gy),
cross_counts AS (
  SELECT p.i, p.j, s.line_id AS poly_id,
         sum(CASE WHEN (((s.y1 - p.cy) > 0 AND (s.y0 - p.cy) <= 0)
                     OR ((s.y0 - p.cy) > 0 AND (s.y1 - p.cy) <= 0))
                  AND ((s.x1 - p.cx) * (s.y0 - p.cy)
                     - (s.x0 - p.cx) * (s.y1 - p.cy))
                      / ((s.y0 - p.cy) - (s.y1 - p.cy)) > 0
             THEN 1 ELSE 0 END) AS n_cross
  FROM ctr p CROSS JOIN segs s GROUP BY p.i, p.j, s.line_id),
fill AS (SELECT poly_id, i AS ix, j AS iy
         FROM cross_counts WHERE n_cross % 2 = 1),
at_px AS ({at_sql}),
u AS (SELECT poly_id, ix, iy FROM fill
      UNION SELECT line_id AS poly_id, ix, iy FROM at_px)
SELECT poly_id, count(*)::bigint AS n_burned,
       sum(ix + iy * 10000)::bigint AS px_checksum
FROM u GROUP BY poly_id"""


@register("rasterize_polygons_all_touched", _sql_rat())
def q_rasterize_polygons_all_touched(spark, sf_dir):
    """gdal_rasterize -at over polygons (gdalrasterize.cpp:740-778):
    ALL_TOUCHED supercover of every ring with bIntersectOnly=true
    (pixel-aligned straight edges are skipped so aligned polygons don't
    over-burn — GDAL #6414/#7523) UNIONed with the scanline center-fill;
    engine plan = two map-only explode kernels + one distinct + one
    groupBy, all JVM column math."""
    import numpy as np

    from gdal_spark.data.pages import POLYGON_SCHEMA, _rec

    recs = [
        _rec(pid, 200 + pid, [np.asarray(r, dtype=np.float64)
                              for r in rings])
        for pid, rings in _rat_polys()
    ]
    polys = spark.createDataFrame(recs, schema=POLYGON_SCHEMA)
    g = spark.range(_RAT_W * _RAT_W).select(
        (F.col("id") % _RAT_W).cast("int").alias("i"),
        (F.col("id") / _RAT_W).cast("long").cast("int").alias("j"),
    )
    centers = g.select(
        "i", "j",
        (F.col("i") + F.lit(0.5)).alias("lon"),
        (F.col("j") + F.lit(0.5)).alias("lat"),
    )
    fill = PIP.pip_join(centers, polys, first_match=False).select(
        F.col("poly_id").cast("long").alias("poly_id"),
        F.col("i").cast("long").alias("ix"),
        F.col("j").cast("long").alias("iy"),
    )
    segs = spark.createDataFrame(
        _rat_segment_rows(),
        "line_id long, seq int, is_last boolean, x0 double, y0 double, "
        "x1 double, y1 double, burn double",
    )
    bd = RL.burn_segments_all_touched(
        segs, _RAT_W, _RAT_W, intersect_only=True
    ).select(
        F.col("line_id").alias("poly_id"), "ix", "iy"
    )
    u = fill.unionAll(bd).distinct()
    return u.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_burned"),
        F.sum(F.col("ix") + F.col("iy") * 10000).alias("px_checksum"),
    )


_RLZ_Z0 = "(line_id % 9) * 1.5 + 0.25"
_RLZ_Z1 = "(line_id % 9) * 1.5 + 0.25 + ((line_id % 4) + 1) * 2.0"


@register(
    "rasterize_lines_z",
    f"""WITH {_RLINES_SEGS_SQL},
segz AS (SELECT *, {_RLZ_Z0} AS z0, {_RLZ_Z1} AS z1 FROM segs),
px AS ({RL.sql_bresenham_pixels('segz', _RLINES_W, _RLINES_W, z=True)})
SELECT ix, iy, count(*)::bigint AS n_burns,
       {SR('sum(zval)', 6)} AS z_sum
FROM px GROUP BY ix, iy""",
)
def q_rasterize_lines_z(spark, sf_dir):
    """gdal_rasterize BURN_VALUE_FROM=Z over linestrings with
    MERGE_ALG=ADD (GDALdllImageLine variant path, llrasterize.cpp:
    322,361): the burn value interpolates linearly along each segment
    over the FLOORED driving-axis pixel delta, v(k) = v0 +
    k*(v1-v0)/dmax — still one explode of JVM column math + one merge
    shuffle."""
    segs = _rlines_segments(spark).withColumn(
        "z0", (F.col("line_id") % 9) * 1.5 + 0.25
    ).withColumn(
        "z1",
        (F.col("line_id") % 9) * 1.5 + 0.25
        + ((F.col("line_id") % 4) + 1) * 2.0,
    )
    px = RL.burn_segments_bresenham(
        segs, _RLINES_W, _RLINES_W, z=("z0", "z1"))
    return px.groupBy("ix", "iy").agg(
        F.count(F.lit(1)).alias("n_burns"),
        R(F.sum("zval"), 6).alias("z_sum"),
    )


# ===========================================================================
# Warp with cutline mask (gdalwarp -cutline -crop_to_cutline -dstnodata)
# ===========================================================================

_CUT_NODATA = -9999.0


@register(
    "warp_cutline",
    sql_pip_cte()
    + f""", attrs(poly_id, eas_id, prfedea, area, xmin, ymin, xmax, ymax) AS ({_poly_attr_values()}),
env AS (SELECT min(xmin) AS x0, min(ymin) AS y0,
               max(xmax) AS x1, max(ymax) AS y1 FROM attrs)
SELECT p.o_orderkey AS o_orderkey,
       CASE WHEN pip.poly_id IS NOT NULL
            THEN {_sql_bilinear_val('p.o_orderkey')}
            ELSE {_CUT_NODATA!r} END AS cutline_val
FROM pts p CROSS JOIN env e
LEFT JOIN pip ON p.o_orderkey = pip.o_orderkey
WHERE p.lon >= e.x0 AND p.lon <= e.x1
  AND p.lat >= e.y0 AND p.lat <= e.y1""",
)
def q_warp_cutline(spark, sf_dir):
    """gdalwarp cutline semantics (alg/gdalcutline.cpp:224
    GDALWarpCutlineMasker: destination pixels whose centers fall outside
    the cutline polygons get dstnodata) with -crop_to_cutline
    (apps/gdalwarp_lib.cpp:450 CropToCutline: output extent clipped to
    the cutline envelope) over the bilinear warp kernel.

    Plan shape: the crop is a pushed-down bbox filter on the point scan;
    the mask is the broadcast map-only PIP join (zero shuffle); the warp
    is the standard 4-tap bilinear tile join. At 100 TB this adds ONE
    map stage to the warp — no extra shuffle."""
    recs = polygon_records()
    x0 = min(r["xmin"] for r in recs)
    y0 = min(r["ymin"] for r in recs)
    x1 = max(r["xmax"] for r in recs)
    y1 = max(r["ymax"] for r in recs)
    pts = order_points(spark, sf_dir).filter(
        (F.col("lon") >= x0) & (F.col("lon") <= x1)
        & (F.col("lat") >= y0) & (F.col("lat") <= y1)
    )
    raster = TL.synthetic_raster(spark, Z_RASTER, bands=1)
    vals = TL.sample_bilinear(
        pts, raster, Z_RASTER, band=1, point_id="o_orderkey"
    )
    mask = PIP.pip_join(
        pts, polygons_df(spark), how="left", first_match=True
    ).select("o_orderkey", "poly_id")
    return vals.join(mask, "o_orderkey").select(
        "o_orderkey",
        F.when(
            F.col("poly_id").isNotNull(), R(F.col("bilinear_val"), 6)
        ).otherwise(F.lit(_CUT_NODATA)).alias("cutline_val"),
    )


# ===========================================================================
# gdal_grid linear: TIN (Delaunay) barycentric interpolation
# ===========================================================================

# Inline 40-point scatter with quadratic jitter (general position: no
# collinear/cocircular quadruples) and a closed-form z — both engines
# derive identical doubles from the same integer expressions.
_GL_N = 40
_GL_X = "((k * k * 7 + k * 13) % 101) / 5.0 + ((k * k * k) % 89) * 1e-4"
_GL_Y = "((k * k * 11 + k * 5) % 103) / 5.0 + ((k * k * k + 7 * k) % 83) * 1e-4"
_GL_Z = "((k * 17) % 23) * 1.5 + 0.25"
_GL_W = 20  # 20x20 grid, node centers at (gx+0.5, gy+0.5)
_GL_NODATA = -9999.0


def _sql_grid_linear() -> str:
    # Independent oracle: the Delaunay triangle set by the O(n^3)
    # all-triples empty-circumcircle test (incircle determinant sign,
    # orientation-adjusted), then point-in-triangle by barycentric
    # coordinates and linear interpolation. Unique under general position,
    # so the engine's Bowyer-Watson must produce the same TIN.
    a2 = "((ax-d.x)*(ax-d.x) + (ay-d.y)*(ay-d.y))"
    b2 = "((bx-d.x)*(bx-d.x) + (by_-d.y)*(by_-d.y))"
    c2 = "((cx-d.x)*(cx-d.x) + (cy-d.y)*(cy-d.y))"
    mbc = "((bx-d.x)*(cy-d.y) - (by_-d.y)*(cx-d.x))"
    mac = "((ax-d.x)*(cy-d.y) - (ay-d.y)*(cx-d.x))"
    mab = "((ax-d.x)*(by_-d.y) - (ay-d.y)*(bx-d.x))"
    incircle = f"({a2} * {mbc} - {b2} * {mac} + {c2} * {mab})"
    wa = "(((bx-qx)*(cy-qy) - (by_-qy)*(cx-qx)) / orient)"
    wb = "(((cx-qx)*(ay-qy) - (cy-qy)*(ax-qx)) / orient)"
    wc = f"(1.0 - {wa} - {wb})"
    return f"""
WITH ks AS (SELECT unnest(generate_series(0, {_GL_N - 1})) AS k),
p AS (SELECT k AS i, {_GL_X} AS x, {_GL_Y} AS y, {_GL_Z} AS z FROM ks),
tri AS (
  SELECT a.x AS ax, a.y AS ay, a.z AS az,
         b.x AS bx, b.y AS by_, b.z AS bz,
         c.x AS cx, c.y AS cy, c.z AS cz,
         (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) AS orient
  FROM p a JOIN p b ON a.i < b.i JOIN p c ON b.i < c.i
  WHERE abs((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x)) > 1e-12
    AND NOT EXISTS (
      SELECT 1 FROM p d
      WHERE d.i <> a.i AND d.i <> b.i AND d.i <> c.i
        AND {incircle} * sign((b.x - a.x) * (c.y - a.y)
                            - (b.y - a.y) * (c.x - a.x)) > 0)),
gs AS (SELECT unnest(generate_series(0, {_GL_W - 1})) AS v),
g AS (SELECT x.v AS gx, y.v AS gy,
             x.v + 0.5 AS qx, y.v + 0.5 AS qy
      FROM gs x CROSS JOIN gs y),
hit AS (
  SELECT g.gx, g.gy, {wa} * az + {wb} * bz + {wc} * cz AS val
  FROM g CROSS JOIN tri
  WHERE {wa} >= 0 AND {wb} >= 0 AND {wc} >= 0)
SELECT g.gx::int AS gx, g.gy::int AS gy,
       {SR(f'coalesce(avg(h.val), {_GL_NODATA!r})', 6)} AS z_val
FROM g LEFT JOIN hit h ON g.gx = h.gx AND g.gy = h.gy
GROUP BY g.gx, g.gy"""


@register("grid_linear", _sql_grid_linear())
def q_grid_linear(spark, sf_dir):
    """gdal_grid 'linear' algorithm (alg/gdalgrid.cpp:2594 GDALGridLinear:
    Delaunay TIN + barycentric interpolation inside the containing
    triangle, nodata outside the hull).

    Plan shape: the TIN is built ONCE from the dimension-sized scatter
    (Bowyer-Watson, operators/triangulate.py — the prepared-geometry
    pattern) and broadcast; grid nodes stream through a broadcast join +
    pure JVM column math (barycentric inside-test + lerp). At 100 TB of
    nodes this is one map stage — no shuffle beyond the per-node avg of
    the 1-2 edge-tie triangles."""
    from gdal_spark.operators import triangulate as TRI

    k = np.arange(_GL_N, dtype=np.int64)
    x = ((k * k * 7 + k * 13) % 101) / 5.0 + ((k ** 3) % 89) * 1e-4
    y = ((k * k * 11 + k * 5) % 103) / 5.0 + ((k ** 3 + 7 * k) % 83) * 1e-4
    z = ((k * 17) % 23) * 1.5 + 0.25
    tris = TRI.delaunay(np.stack([x, y], axis=1))
    rows = [
        (
            float(x[a]), float(y[a]), float(z[a]),
            float(x[b]), float(y[b]), float(z[b]),
            float(x[c]), float(y[c]), float(z[c]),
        )
        for a, b, c in tris
    ]
    tdf = spark.createDataFrame(
        rows,
        "ax double, ay double, az double, bx double, by_ double, bz double, "
        "cx double, cy double, cz double",
    )
    grid = spark.range(_GL_W * _GL_W).select(
        (F.col("id") % _GL_W).cast("int").alias("gx"),
        (F.col("id") / _GL_W).cast("long").cast("int").alias("gy"),
    ).select(
        "gx", "gy",
        (F.col("gx") + F.lit(0.5)).alias("qx"),
        (F.col("gy") + F.lit(0.5)).alias("qy"),
    )
    j = grid.crossJoin(F.broadcast(tdf))
    orient = (
        (F.col("bx") - F.col("ax")) * (F.col("cy") - F.col("ay"))
        - (F.col("by_") - F.col("ay")) * (F.col("cx") - F.col("ax"))
    )
    wa = (
        (F.col("bx") - F.col("qx")) * (F.col("cy") - F.col("qy"))
        - (F.col("by_") - F.col("qy")) * (F.col("cx") - F.col("qx"))
    ) / orient
    wb = (
        (F.col("cx") - F.col("qx")) * (F.col("ay") - F.col("qy"))
        - (F.col("cy") - F.col("qy")) * (F.col("ax") - F.col("qx"))
    ) / orient
    wc = F.lit(1.0) - wa - wb
    hit = (
        j.filter((wa >= 0) & (wb >= 0) & (wc >= 0))
        .select(
            "gx", "gy",
            (wa * F.col("az") + wb * F.col("bz") + wc * F.col("cz")).alias("val"),
        )
        .groupBy("gx", "gy")
        .agg(F.avg("val").alias("val"))
    )
    return grid.select("gx", "gy").join(hit, ["gx", "gy"], "left").select(
        "gx", "gy",
        R(F.coalesce(F.col("val"), F.lit(_GL_NODATA)), 6).alias("z_val"),
    )


# ===========================================================================
# gdal_translate: -srcwin subset + -scale linear stretch + -ot Byte
# ===========================================================================

_TR_Z = 2           # 1024x1024 global pixels
_TR_X0, _TR_Y0 = 137, 301
_TR_W, _TR_H = 300, 200
# -scale 20 220 0 255: v' = (v - 20) * (255/200); Byte write clamps then
# rounds via floor(v + 0.5) (gcore/rasterio.cpp GDALCopyWords float->byte)
_TR_SCALE_SQL = "least(255, greatest(0, floor((v - 20.0) * (255.0 / 200.0) + 0.5)))"


@register(
    "raster_translate",
    f"""WITH xs AS (SELECT unnest(generate_series({_TR_X0}, {_TR_X0 + _TR_W - 1})) AS gx),
ys AS (SELECT unnest(generate_series({_TR_Y0}, {_TR_Y0 + _TR_H - 1})) AS gy),
px AS (SELECT gx, gy, {TL.sql_pixel_value('gx', 'gy', '1')} AS v
       FROM xs CROSS JOIN ys),
sc AS (SELECT gx, gy, {_TR_SCALE_SQL}::bigint AS b FROM px)
SELECT gy::bigint AS iy, count(*)::bigint AS n_px, sum(b)::bigint AS b_sum,
       min(b)::bigint AS b_min, max(b)::bigint AS b_max,
       sum(b * (gx - {_TR_X0} + 1))::bigint AS b_cksum
FROM sc GROUP BY gy""",
)
def q_raster_translate(spark, sf_dir):
    """gdal_translate -srcwin -scale -ot Byte (apps/gdal_translate_lib.cpp:
    676 GDALTranslate; scale params :74-79): pixel-window subset, linear
    stretch (v-srcMin)*(dstMax-dstMin)/(srcMax-srcMin), byte clamp with
    GDALCopyWords' floor(v+0.5) rounding. Output = per-scanline aggregates.

    Plan shape: tile-range pruning at GENERATION (only the 2 tiles
    intersecting the window exist in the scan), then posexplode →
    window filter → byte math → one groupBy(iy) shuffle — all JVM
    column math after the Arrow tile fill."""
    ts = 256
    tx0, tx1 = _TR_X0 // ts, (_TR_X0 + _TR_W - 1) // ts
    ty0, ty1 = _TR_Y0 // ts, (_TR_Y0 + _TR_H - 1) // ts
    r = TL.synthetic_raster(
        spark, _TR_Z, bands=1, tx_range=(tx0, tx1), ty_range=(ty0, ty1)
    )
    px = r.select(
        "tx", "ty", F.posexplode("data").alias("pos", "v")
    ).select(
        (F.col("tx") * ts + F.col("pos") % ts).alias("gx"),
        (F.col("ty") * ts + (F.col("pos") / ts).cast("long")).alias("gy"),
        "v",
    ).filter(
        (F.col("gx") >= _TR_X0) & (F.col("gx") < _TR_X0 + _TR_W)
        & (F.col("gy") >= _TR_Y0) & (F.col("gy") < _TR_Y0 + _TR_H)
    )
    b = F.least(
        F.lit(255),
        F.greatest(
            F.lit(0),
            F.floor((F.col("v") - F.lit(20.0)) * F.lit(255.0 / 200.0) + F.lit(0.5)),
        ),
    ).cast("long")
    return (
        px.withColumn("b", b)
        .groupBy(F.col("gy").alias("iy"))
        .agg(
            F.count(F.lit(1)).alias("n_px"),
            F.sum("b").alias("b_sum"),
            F.min("b").alias("b_min"),
            F.max("b").alias("b_max"),
            F.sum(F.col("b") * (F.col("gx") - F.lit(_TR_X0) + 1)).alias("b_cksum"),
        )
    )


# ===========================================================================
# gdal2xyz: raster -> (x, y, value) point export with -skip
# ===========================================================================

_XYZ_Z = 1          # 512x512 global pixels
_XYZ_SKIP = 16


@register(
    "raster_xyz",
    f"""WITH gs AS (SELECT unnest(generate_series(0, 511, {_XYZ_SKIP})) AS v)
SELECT x.v::bigint AS gx, y.v::bigint AS gy,
       {SR(f"(x.v + 0.5) * {2 * TM.ORIGIN_SHIFT / 512!r} - {TM.ORIGIN_SHIFT!r}", 4)} AS mx,
       {SR(f"{TM.ORIGIN_SHIFT!r} - (y.v + 0.5) * {2 * TM.ORIGIN_SHIFT / 512!r}", 4)} AS my,
       {TL.sql_pixel_value('x.v', 'y.v', '1')} AS val
FROM gs x CROSS JOIN gs y""",
)
def q_raster_xyz(spark, sf_dir):
    """gdal2xyz with -skip (swig/python/gdal-utils/osgeo_utils/gdal2xyz.py):
    every skip-th pixel exported as (georeferenced center x, center y,
    value) — the geotransform here is global WebMercator at z1. Map-only:
    posexplode + modulo filter + closed-form coordinate math."""
    ts = 256
    res = 2 * TM.ORIGIN_SHIFT / 512
    r = TL.synthetic_raster(spark, _XYZ_Z, bands=1)
    px = r.select(
        "tx", "ty", F.posexplode("data").alias("pos", "v")
    ).select(
        (F.col("tx") * ts + F.col("pos") % ts).alias("gx"),
        (F.col("ty") * ts + (F.col("pos") / ts).cast("long")).alias("gy"),
        "v",
    ).filter((F.col("gx") % _XYZ_SKIP == 0) & (F.col("gy") % _XYZ_SKIP == 0))
    return px.select(
        "gx", "gy",
        R((F.col("gx") + F.lit(0.5)) * F.lit(res) - F.lit(TM.ORIGIN_SHIFT), 4).alias("mx"),
        R(F.lit(TM.ORIGIN_SHIFT) - (F.col("gy") + F.lit(0.5)) * F.lit(res), 4).alias("my"),
        "v",
    ).withColumnRenamed("v", "val")


# ===========================================================================
# SQL-dialect surface tail 2: HAVING/CASE, subqueries, set ops, ROLLUP, Q3
# ===========================================================================

@register(
    "sql_having_case",
    f"""SELECT CASE WHEN o_totalprice < 50000.0 THEN 'low'
            WHEN o_totalprice < 150000.0 THEN 'mid'
            ELSE 'high' END AS bucket,
       o_orderstatus,
       count(*)::bigint AS n_orders, {SR('sum(o_totalprice)', 2)} AS revenue
FROM orders
GROUP BY bucket, o_orderstatus
HAVING count(*) > 50""",
)
def q_sql_having_case(spark, sf_dir):
    """CASE WHEN bucketing + GROUP BY + HAVING (OGR SQL WHERE/HAVING
    grammar, ogr/ogr_swq.cpp select parsing) — pure Catalyst aggregate
    with a post-aggregation filter."""
    o = _read(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000.0, "low")
        .when(F.col("o_totalprice") < 150000.0, "mid")
        .otherwise("high")
    )
    return (
        o.groupBy(bucket.alias("bucket"), "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            R(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .filter(F.col("n_orders") > 50)
    )


@register(
    "sql_exists_anti",
    """SELECT c.c_nationkey::int AS c_nationkey, count(*)::bigint AS n_inactive
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c.c_nationkey""",
)
def q_sql_exists_anti(spark, sf_dir):
    """NOT EXISTS correlated subquery = left-anti join (the plan Catalyst
    picks; the build side broadcasts when small). Customers with no
    orders, counted per nation."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


@register(
    "sql_scalar_subquery",
    f"""WITH m AS (SELECT {SR('avg(o_totalprice)', 2)} AS avg_price FROM orders)
SELECT o_orderstatus, count(*)::bigint AS n_above,
       {SR('sum(o_totalprice)', 2)} AS rev_above
FROM orders, m WHERE o_totalprice > m.avg_price
GROUP BY o_orderstatus""",
)
def q_sql_scalar_subquery(spark, sf_dir):
    """Scalar subquery in WHERE (orders above the global mean price).
    The mean is stable-rounded on BOTH sides so the comparison threshold
    is the identical double — aggregation-order float noise cannot move
    boundary rows. Plan: one tiny aggregate broadcast into a map filter."""
    o = _read(spark, sf_dir, "orders")
    m = o.agg(R(F.avg("o_totalprice"), 2).alias("avg_price"))
    return (
        o.join(F.broadcast(m))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            R(F.sum("o_totalprice"), 2).alias("rev_above"),
        )
    )


@register(
    "sql_set_ops",
    """SELECT 'intersect' AS op, count(*)::bigint AS n FROM (
  SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
UNION ALL
SELECT 'except' AS op, count(*)::bigint AS n FROM (
  SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)""",
)
def q_sql_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT set semantics (distinct rows): customers with vs
    without orders. Catalyst plans both as distinct + semi/anti join."""
    c = _read(spark, sf_dir, "customer").select("c_custkey")
    o = _read(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    inter = c.intersect(o).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect").alias("op"), "n"
    )
    exc = c.exceptAll(o.distinct()).distinct().agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("except").alias("op"), "n")
    return inter.unionAll(exc)


@register(
    "sql_rollup",
    f"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       (grouping(o_orderstatus) * 2 + grouping(o_orderpriority))::int AS gid,
       count(*)::bigint AS n_orders, {SR('sum(o_totalprice)', 2)} AS revenue
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
)
def q_sql_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals with grouping indicators — subtotal rows per
    status, plus the grand total; one shuffle (Spark expands grouping sets
    map-side)."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            R(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid", "n_orders", "revenue",
        )
    )


@register(
    "tpch_q3",
    f"""SELECT l.l_orderkey, {SR("sum(l.l_extendedprice * (1.0 - l.l_discount))", 2)} AS revenue,
       o.o_orderdate
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
LIMIT 10""",
)
def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping-priority top-k) adapted to the generated columns:
    3-way join, filtered both sides of the date pivot, revenue top-10.
    Revenue is stable-rounded BEFORE the ordering on both engines so the
    top-k cut is float-deterministic. Plan: customer broadcast, one
    shuffle on l_orderkey, TakeOrderedAndProject for the top-k."""
    c = _read(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    l = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            R(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                2,
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ===========================================================================
# PointOnSurface: guaranteed-interior representative point
# ===========================================================================

@register(
    "geom_point_on_surface",
    f"""WITH attrs(poly_id, eas_id, prfedea, area, xmin, ymin, xmax, ymax)
  AS ({_poly_attr_values()}),
seg(poly_id, x2a, y2a, x1a, y1a) AS ({_segment_values()}),
base AS (SELECT poly_id, (ymin + ymax) / 2.0 AS ys0, ymax - ymin AS h
         FROM attrs),
hit AS (SELECT b.poly_id,
               max(CASE WHEN s.y1a = b.ys0 OR s.y2a = b.ys0
                        THEN 1 ELSE 0 END) AS f
        FROM base b JOIN seg s USING (poly_id) GROUP BY b.poly_id),
sl AS (SELECT b.poly_id, b.ys0 + h.f * b.h * 1e-4 AS ys
       FROM base b JOIN hit h USING (poly_id)),
cr AS (SELECT s.poly_id,
              s.x2a + (sl.ys - s.y2a) * (s.x1a - s.x2a) / (s.y1a - s.y2a) AS x,
              sl.ys AS ys
       FROM seg s JOIN sl USING (poly_id)
       WHERE (s.y2a > sl.ys) <> (s.y1a > sl.ys)),
iv AS (SELECT poly_id, ys, x,
              lead(x) OVER (PARTITION BY poly_id ORDER BY x) AS nx,
              row_number() OVER (PARTITION BY poly_id ORDER BY x) AS rn
       FROM cr),
best AS (SELECT poly_id, ys, (x + nx) / 2.0 AS px,
                row_number() OVER (PARTITION BY poly_id
                                   ORDER BY nx - x DESC, x) AS bn
         FROM iv WHERE rn % 2 = 1)
SELECT poly_id, {SR('px', 6)} AS pos_x, {SR('ys', 6)} AS pos_y
FROM best WHERE bn = 1""",
)
def q_geom_point_on_surface(spark, sf_dir):
    """PointOnSurface (ogrgeometry.cpp:6661 OGR_G_PointOnSurface → GEOS
    InteriorPointArea semantics): midpoint of the WIDEST interior interval
    of the horizontal bisector scanline y = (ymin+ymax)/2, nudged by
    height·1e-4 when a vertex lies exactly on it (so crossings are
    non-degenerate); even-odd pairing across all rings keeps the point
    out of holes.

    Plan shape: rings explode to edges (arrays_zip of shifted slices —
    pure JVM), crossings are column math, the interval pairing is a
    per-feature window over a handful of crossings — bounded by geometry
    complexity, not table size; map-scale at 100 TB of features."""
    from pyspark.sql import Window

    p = polygons_df(spark).select("poly_id", "ymin", "ymax", "rings")
    base = p.select(
        "poly_id",
        ((F.col("ymin") + F.col("ymax")) / 2.0).alias("ys0"),
        (F.col("ymax") - F.col("ymin")).alias("h"),
        "rings",
    )
    segs = base.select(
        "poly_id", "ys0", "h", F.explode("rings").alias("ring")
    ).select(
        "poly_id", "ys0", "h",
        F.explode(
            F.expr(
                "arrays_zip(slice(ring, 1, size(ring) - 1), "
                "slice(ring, 2, size(ring) - 1))"
            )
        ).alias("e"),
    ).select(
        "poly_id", "ys0", "h",
        F.col("e")["0"].getItem(0).alias("px_"),
        F.col("e")["0"].getItem(1).alias("py_"),
        F.col("e")["1"].getItem(0).alias("cx_"),
        F.col("e")["1"].getItem(1).alias("cy_"),
    )
    hit = segs.groupBy("poly_id").agg(
        F.max(
            F.when(
                (F.col("py_") == F.col("ys0")) | (F.col("cy_") == F.col("ys0")),
                1,
            ).otherwise(0)
        ).alias("f")
    )
    sl = base.select("poly_id", "ys0", "h").distinct().join(hit, "poly_id").select(
        "poly_id",
        (F.col("ys0") + F.col("f") * F.col("h") * F.lit(1e-4)).alias("ys"),
    )
    cr = segs.join(sl, "poly_id").filter(
        (F.col("py_") > F.col("ys")) != (F.col("cy_") > F.col("ys"))
    ).select(
        "poly_id",
        (
            F.col("px_")
            + (F.col("ys") - F.col("py_"))
            * (F.col("cx_") - F.col("px_"))
            / (F.col("cy_") - F.col("py_"))
        ).alias("x"),
        "ys",
    )
    w = Window.partitionBy("poly_id").orderBy("x")
    iv = cr.select(
        "poly_id", "ys", "x",
        F.lead("x").over(w).alias("nx"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") % 2 == 1)
    wb = Window.partitionBy("poly_id").orderBy(
        F.desc(F.col("nx") - F.col("x")), F.col("x")
    )
    return iv.select(
        "poly_id", "ys",
        ((F.col("x") + F.col("nx")) / 2.0).alias("px"),
        F.row_number().over(wb).alias("bn"),
    ).filter(F.col("bn") == 1).select(
        "poly_id",
        R("px", 6).alias("pos_x"),
        R("ys", 6).alias("pos_y"),
    )


# ===========================================================================
# Corpus TF-IDF vocabulary (distributed term statistics)
# ===========================================================================

@register(
    "corpus_tfidf",
    f"""WITH n AS (SELECT count(*)::double AS nd FROM documents),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
SELECT term, count(*)::bigint AS term_count,
       count(DISTINCT doc_id)::bigint AS doc_freq,
       {SR('ln((SELECT nd FROM n) / count(DISTINCT doc_id))', 6)} AS idf
FROM tok GROUP BY term
ORDER BY term_count DESC, term LIMIT 20""",
)
def q_corpus_tfidf(spark, sf_dir):
    """Corpus vocabulary statistics: token explode → term count + document
    frequency + idf (ln(N/df)) — the standard training-corpus vocab sweep.
    Plan: one shuffle on term (partial counts map-side; countDistinct
    expands to a two-phase aggregate), top-k via TakeOrderedAndProject."""
    d = _read(spark, sf_dir, "documents")
    n = d.count()
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    return (
        tok.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("term_count"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .select(
            "term", "term_count", "doc_freq",
            R(F.log(F.lit(float(n)) / F.col("doc_freq")), 6).alias("idf"),
        )
        .orderBy(F.desc("term_count"), "term")
        .limit(20)
    )


# ===========================================================================
# gdal_footprint MVP: valid-mask area / perimeter / bbox
# ===========================================================================

_FP_W = 48
_FP_VALID = "((i * 31 + j * 17 + 7) % 9) < 5"


@register(
    "raster_footprint",
    f"""WITH gs AS (SELECT unnest(generate_series(0, {_FP_W - 1})) AS v),
g AS (SELECT a.v AS i, b.v AS j FROM gs a CROSS JOIN gs b),
val AS (SELECT i, j FROM g WHERE {_FP_VALID}),
nb AS (SELECT v.i, v.j, v.i + d.di AS ni, v.j + d.dj AS nj
       FROM val v CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) AS d(di, dj)),
edge AS (SELECT nb.i, nb.j FROM nb LEFT JOIN val t ON nb.ni = t.i AND nb.nj = t.j
         WHERE t.i IS NULL)
SELECT (SELECT count(*) FROM val)::bigint AS n_cells,
       (SELECT count(*)::double FROM val) AS area,
       (SELECT count(*) FROM edge)::bigint AS perimeter,
       (SELECT min(i) FROM val)::bigint AS min_i,
       (SELECT max(i) FROM val)::bigint AS max_i,
       (SELECT min(j) FROM val)::bigint AS min_j,
       (SELECT max(j) FROM val)::bigint AS max_j""",
)
def q_raster_footprint(spark, sf_dir):
    """gdal_footprint MVP (apps/gdal_footprint_lib.cpp: vectorize the
    valid-data mask): mask area (cell units), boundary perimeter (valid
    cell edges facing invalid/outside — the footprint ring length), and
    mask envelope. Plan: valid mask is a map-only filter; the perimeter
    is a 4-neighbor explode + left-anti equi-join on the cell key (the
    distributed halo probe); aggregates are partial map-side."""
    g = spark.range(_FP_W * _FP_W).select(
        (F.col("id") % _FP_W).cast("long").alias("i"),
        (F.col("id") / _FP_W).cast("long").alias("j"),
    )
    val = g.filter(F.expr(_FP_VALID))
    offs = F.array(
        F.struct(F.lit(1).alias("di"), F.lit(0).alias("dj")),
        F.struct(F.lit(-1).alias("di"), F.lit(0).alias("dj")),
        F.struct(F.lit(0).alias("di"), F.lit(1).alias("dj")),
        F.struct(F.lit(0).alias("di"), F.lit(-1).alias("dj")),
    )
    nb = val.select(
        "i", "j", F.explode(offs).alias("d")
    ).select(
        "i", "j",
        (F.col("i") + F.col("d.di")).alias("ni"),
        (F.col("j") + F.col("d.dj")).alias("nj"),
    )
    tgt = val.select(F.col("i").alias("ti"), F.col("j").alias("tj"))
    edge = nb.join(
        tgt, (nb["ni"] == tgt["ti"]) & (nb["nj"] == tgt["tj"]), "left_anti"
    )
    stats = val.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.count(F.lit(1)).cast("double").alias("area"),
        F.min("i").alias("min_i"), F.max("i").alias("max_i"),
        F.min("j").alias("min_j"), F.max("j").alias("max_j"),
    )
    perim = edge.agg(F.count(F.lit(1)).alias("perimeter"))
    return stats.crossJoin(perim).select(
        "n_cells", "area", "perimeter",
        "min_i", "max_i", "min_j", "max_j",
    )


# ===========================================================================
# gdaltindex: raster tile index (location + WKT footprint per tile)
# ===========================================================================

_TI_Z = 2


def _ti_wkt(tx: int, ty: int) -> tuple[str, str]:
    import math as _m

    res = TM.resolution(_TI_Z)
    os_ = TM.ORIGIN_SHIFT

    def rnd(x):
        return _m.floor(x * 10**4 + 0.5) / 10**4

    x0 = rnd(tx * 256.0 * res - os_)
    x1 = rnd((tx + 1) * 256.0 * res - os_)
    y1 = rnd(os_ - ty * 256.0 * res)
    y0 = rnd(os_ - (ty + 1) * 256.0 * res)
    wkt = (
        f"POLYGON(({x0!r} {y0!r},{x0!r} {y1!r},{x1!r} {y1!r},"
        f"{x1!r} {y0!r},{x0!r} {y0!r}))"
    )
    return f"{_TI_Z}/{tx}/{ty}.png", wkt


def _sql_tile_index() -> str:
    rows = []
    for ty in range(1 << _TI_Z):
        for tx in range(1 << _TI_Z):
            loc, wkt = _ti_wkt(tx, ty)
            rows.append(f"('{loc}', '{wkt}')")
    return (
        "SELECT location, wkt FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(location, wkt)"
    )


@register("tile_index", _sql_tile_index())
def q_tile_index(spark, sf_dir):
    """gdaltindex (apps/gdaltindex_lib.cpp): one row per raster tile with
    its dataset location and WKT footprint polygon in EPSG:3857 (XYZ
    y-down bounds, gdal2tiles.py TileBounds). Exact-string parity: both
    engines format the identical stable-rounded doubles; the oracle is an
    independently generated VALUES fixture (the geom_wkt pattern).
    Distributed string assembly via mapInPandas — map-only."""
    import math as _m

    import pandas as pd

    n = 1 << _TI_Z
    tiles = spark.range(n * n).select(
        (F.col("id") % n).cast("int").alias("tx"),
        (F.col("id") / n).cast("long").cast("int").alias("ty"),
    )
    res = TM.resolution(_TI_Z)
    os_ = TM.ORIGIN_SHIFT

    def run(batches):
        def rnd(x):
            return _m.floor(x * 10**4 + 0.5) / 10**4

        for pdf in batches:
            locs, wkts = [], []
            for tx, ty in zip(pdf["tx"], pdf["ty"]):
                tx, ty = int(tx), int(ty)
                x0 = rnd(tx * 256.0 * res - os_)
                x1 = rnd((tx + 1) * 256.0 * res - os_)
                y1 = rnd(os_ - ty * 256.0 * res)
                y0 = rnd(os_ - (ty + 1) * 256.0 * res)
                locs.append(f"{_TI_Z}/{tx}/{ty}.png")
                wkts.append(
                    f"POLYGON(({x0!r} {y0!r},{x0!r} {y1!r},{x1!r} {y1!r},"
                    f"{x1!r} {y0!r},{x0!r} {y0!r}))"
                )
            yield pd.DataFrame({"location": locs, "wkt": wkts})

    return tiles.mapInPandas(run, "location string, wkt string")


# ---------------------------------------------------------------------------
# S2 cell index (the north rule's "H3/S2-encoded geotags", S2 flavor):
# cube-face Hilbert geocells per the published S2 spec — see spatial/s2.py.
# ---------------------------------------------------------------------------
from gdal_spark.spatial import s2 as S2  # noqa: E402

_S2_L = 12          # encode level (4^12 cells/face)
_S2_RL = 8          # rollup level


def _s2_encode_oracle() -> str:
    chain = S2.sql_s2_key(sql_lon("o_orderkey"), sql_lat("o_orderkey"), _S2_L)
    mask = 4**_S2_L - 1
    return f"""WITH keys AS (SELECT {chain} AS k FROM orders)
SELECT k >> {2 * _S2_L} AS face,
       count(*)::BIGINT AS n,
       sum(k & {mask})::BIGINT AS sum_pos,
       min(k & {mask})::BIGINT AS min_pos,
       max(k & {mask})::BIGINT AS max_pos,
       count(DISTINCT (k & {mask}) >> 12)::BIGINT AS n_l6
FROM keys GROUP BY 1 ORDER BY 1"""


@register("s2_cell_encode", _s2_encode_oracle())
def q_s2_cell_encode(spark, sf_dir):
    """S2 cell encode at level 12 over the orders geotags (north rule:
    "geotags are H3/S2-encoded via vectorized pandas-on-Arrow UDFs").
    Map-only Arrow-batched kernel (spatial/s2.py), then one partial-agg
    shuffle on the 6 face keys; per-face exact bigint sums + the distinct
    level-6 parent count exercise the Hilbert prefix hierarchy."""
    pts = order_points(spark, sf_dir)
    key = S2.s2_key(F.col("lon"), F.col("lat"), _S2_L)
    mask = 4**_S2_L - 1
    cells = pts.select(key.alias("k")).select(
        F.shiftright("k", 2 * _S2_L).alias("face"),
        F.col("k").bitwiseAND(F.lit(mask)).alias("pos"),
    )
    return (
        cells.groupBy("face")
        .agg(
            F.count("*").alias("n"),
            F.sum("pos").alias("sum_pos"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
            F.countDistinct(F.shiftright(F.col("pos"), 12)).alias("n_l6"),
        )
        .orderBy("face")
    )


def _s2_rollup_oracle() -> str:
    chain = S2.sql_s2_key(sql_lon("pid"), sql_lat("pid"), _S2_RL)
    mask = 4**_S2_RL - 1
    hex_sql = S2.sql_s2_cell_hex("face", "pos", _S2_RL)
    return f"""WITH pts AS (
  SELECT l_orderkey * 10 + l_linenumber AS pid FROM lineitem),
keys AS (SELECT {chain} AS k FROM pts),
agg AS (SELECT k >> {2 * _S2_RL} AS face, k & {mask} AS pos,
               count(*)::BIGINT AS n
        FROM keys GROUP BY 1, 2)
SELECT face, pos, n, {hex_sql} AS cell_hex
FROM agg ORDER BY n DESC, face, pos LIMIT 15"""


@register("s2_parent_rollup", _s2_rollup_oracle())
def q_s2_parent_rollup(spark, sf_dir):
    """Level-8 S2 cell rollup over lineitem geotags with the canonical
    64-bit cell id rendered as 16-char hex (hi/lo 32-bit halves — no
    signed-64 overflow for faces >= 4).  Top-15 hottest cells, fully
    deterministic tie-break (n DESC, face, pos)."""
    li = _read(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("pid")
    )
    key = S2.s2_key(derived_lon(F.col("pid")), derived_lat(F.col("pid")), _S2_RL)
    mask = 4**_S2_RL - 1
    cells = li.select(key.alias("k")).select(
        F.shiftright("k", 2 * _S2_RL).alias("face"),
        F.col("k").bitwiseAND(F.lit(mask)).alias("pos"),
    )
    agg = cells.groupBy("face", "pos").agg(F.count("*").alias("n"))
    return (
        agg.select(
            "face", "pos", "n",
            S2.s2_cell_hex(F.col("face"), F.col("pos"), _S2_RL).alias("cell_hex"),
        )
        .orderBy(F.desc("n"), "face", "pos")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# ogr2ogr -explodecollections / gdalcompare / ST_Project / geodesic area /
# URL normalization (webtext curation)
# ---------------------------------------------------------------------------

def _mp_part_segment_values() -> str:
    """Directed ring segments of every multipolygon part, keyed by
    (poly_id, part_idx, ring_idx) — the explodecollections oracle input."""
    rows = []
    for rec in multipolygon_records():
        for part_idx, part in enumerate(rec["rings"]):
            for ring_idx, ring in enumerate(part):
                arr = np.asarray(ring, dtype=np.float64)
                for i in range(1, arr.shape[0]):
                    x1_, y1_ = arr[i - 1]
                    x2_, y2_ = arr[i]
                    rows.append(
                        f"({rec['poly_id']}, {part_idx}, {ring_idx}, "
                        f"{x1_!r}::double, {y1_!r}::double, "
                        f"{x2_!r}::double, {y2_!r}::double)"
                    )
    return "VALUES " + ", ".join(rows)


_EXPLODE_ORACLE = f"""
WITH seg(poly_id, part_idx, ring_idx, x1a, y1a, x2a, y2a)
  AS ({_mp_part_segment_values()}),
ring_area AS (
  SELECT poly_id, part_idx, ring_idx,
         0.5 * sum(x1a * y2a - x2a * y1a) AS sa
  FROM seg GROUP BY 1, 2, 3),
part_area AS (
  SELECT poly_id, part_idx,
         count(*)::BIGINT AS n_rings,
         sum(CASE WHEN ring_idx = 0 THEN abs(sa) ELSE -abs(sa) END) AS area
  FROM ring_area GROUP BY 1, 2),
env AS (
  SELECT poly_id, part_idx,
         min(least(x1a, x2a)) AS xmin, min(least(y1a, y2a)) AS ymin,
         max(greatest(x1a, x2a)) AS xmax, max(greatest(y1a, y2a)) AS ymax
  FROM seg GROUP BY 1, 2)
SELECT a.poly_id, a.part_idx, a.n_rings, {SR('a.area', 6)} AS area,
       e.xmin, e.ymin, e.xmax, e.ymax
FROM part_area a JOIN env e USING (poly_id, part_idx)
ORDER BY a.poly_id, a.part_idx"""


@register("explode_collections", _EXPLODE_ORACLE)
def q_explode_collections(spark, sf_dir):
    """ogr2ogr -explodecollections (apps/ogr2ogr_lib.cpp; one output
    feature per collection part): posexplode of the multipolygon parts
    array — a map-only explode at scale, no shuffle — then per-part ring
    count, planar area (|outer| − Σ|holes| shoelace) and envelope."""
    from typing import Iterator

    import pandas as pd

    mp = multipolygons_df(spark).select(
        "poly_id", F.posexplode("rings").alias("part_idx", "part")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("poly_id", "part_idx", "n_rings", "area",
                    "xmin", "ymin", "xmax", "ymax")}
            for pid, pidx, part in zip(
                pdf["poly_id"], pdf["part_idx"], pdf["part"]
            ):
                rings = [np.asarray([list(pt) for pt in ring],
                                    dtype=np.float64) for ring in part]
                xmin, ymin, xmax, ymax = G.rings_envelope(rings)
                out["poly_id"].append(pid)
                out["part_idx"].append(int(pidx))
                out["n_rings"].append(len(rings))
                out["area"].append(G.rings_area(rings))
                out["xmin"].append(xmin)
                out["ymin"].append(ymin)
                out["xmax"].append(xmax)
                out["ymax"].append(ymax)
            yield pd.DataFrame(out)

    parts = mp.mapInPandas(
        run,
        "poly_id long, part_idx int, n_rings bigint, area double, "
        "xmin double, ymin double, xmax double, ymax double",
    )
    return parts.select(
        "poly_id", "part_idx", "n_rings", R("area", 6).alias("area"),
        "xmin", "ymin", "xmax", "ymax",
    ).orderBy("poly_id", "part_idx")


_CMP_W = 256  # compare-grid width (one z0-sized tile per band)


def _cmp_perturb_sql(gx: str, gy: str, band: str) -> str:
    return (
        f"(CASE WHEN (({gx}) * 7 + ({gy}) * 13 + ({band}) * 5) % 97 = 0 "
        f"THEN (CASE WHEN ({band}) = 1 THEN 3.0 ELSE -2.0 END) "
        f"ELSE 0.0 END)"
    )


_CMP_ORACLE = f"""
WITH g AS (SELECT unnest(generate_series(0, {_CMP_W - 1})) AS i),
b AS (SELECT unnest(generate_series(1, 2)) AS band),
px AS (
  SELECT b.band,
         {_cmp_perturb_sql('gx.i', 'gy.i', 'b.band')} AS delta
  FROM b CROSS JOIN g gx CROSS JOIN g gy)
SELECT band,
       sum(CASE WHEN delta <> 0.0 THEN 1 ELSE 0 END)::BIGINT AS n_diff,
       max(abs(delta)) AS max_diff,
       sum(abs(delta)) AS sum_abs_diff,
       count(*)::BIGINT AS n_pixels
FROM px GROUP BY band ORDER BY band"""


@register("raster_compare", _CMP_ORACLE)
def q_raster_compare(spark, sf_dir):
    """gdalcompare (swig/python/gdal-utils/.../gdalcompare.py semantics:
    count of differing pixels + max difference per band between a golden
    and a new raster).  Golden = the closed-form world raster; new = golden
    with a deterministic sparse perturbation; the diff is pure JVM column
    math over one range() scan — map-side partial agg, no wide shuffle."""
    n = _CMP_W * _CMP_W
    cells = spark.range(n * 2).select(
        (F.col("id") % _CMP_W).alias("gx"),
        ((F.col("id") / _CMP_W).cast("long") % _CMP_W).alias("gy"),
        ((F.col("id") / n).cast("long") + 1).alias("band"),
    )
    delta = (
        F.when(
            (F.col("gx") * 7 + F.col("gy") * 13 + F.col("band") * 5) % 97
            == 0,
            F.when(F.col("band") == 1, F.lit(3.0)).otherwise(F.lit(-2.0)),
        )
        .otherwise(F.lit(0.0))
    )
    px = cells.select("band", delta.alias("delta"))
    return (
        px.groupBy("band")
        .agg(
            F.sum(F.when(F.col("delta") != 0.0, 1).otherwise(0)).alias(
                "n_diff"
            ),
            F.max(F.abs("delta")).alias("max_diff"),
            F.sum(F.abs("delta")).alias("sum_abs_diff"),
            F.count("*").alias("n_pixels"),
        )
        .orderBy("band")
    )


def _sql_spherical_area_km2() -> str:
    rr = G.EARTH_RADIUS
    term = (
        "((x2a - x1a) * (pi() / 180.0)) * "
        "(2.0 + sin(y1a * (pi() / 180.0)) + sin(y2a * (pi() / 180.0)))"
    )
    return f"""WITH seg(poly_id, x2a, y2a, x1a, y1a) AS ({_segment_values()})
SELECT poly_id,
       {SR(f'abs(sum({term})) * {rr!r} * {rr!r} / 2.0 / 1000000.0', 3)}
         AS area_km2
FROM seg GROUP BY poly_id"""


@register("geom_area_geodesic", _sql_spherical_area_km2())
def q_geom_area_geodesic(spark, sf_dir):
    """Spherical polygon area (OGR_G_GeodesicArea family,
    ogr/ogrgeometry.cpp — sphere flavor here, radius = the great-circle
    EARTH_RADIUS, not the GeographicLib ellipsoid): the classic
    sum-over-edges formula  R^2/2 * |Σ Δλ·(2 + sin φ1 + sin φ2)|
    ("Some Algorithms for Polygons on a Sphere", Chamberlain & Duquette,
    JPL 2007).  Holes traverse reversed so they subtract before |·|."""
    import math as _m
    from typing import Iterator

    import pandas as pd

    rr = G.EARTH_RADIUS
    d2r = _m.pi / 180.0
    p = polygons_df(spark).select("poly_id", "rings")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, areas = [], []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                total = 0.0
                for ring in G.rings_to_numpy(rings):
                    t = ((ring[1:, 0] - ring[:-1, 0]) * d2r) * (
                        2.0
                        + np.sin(ring[:-1, 1] * d2r)
                        + np.sin(ring[1:, 1] * d2r)
                    )
                    for v in t:  # sequential — SQL sum() association
                        total += float(v)
                ids.append(pid)
                areas.append(abs(total) * rr * rr / 2.0 / 1000000.0)
            yield pd.DataFrame({"poly_id": ids, "area_km2": areas})

    out = p.mapInPandas(run, "poly_id long, area_km2 double")
    return out.select("poly_id", R("area_km2", 3).alias("area_km2"))


def _sql_st_project() -> str:
    rr = G.EARTH_RADIUS
    lat1 = f"({sql_lat('o_orderkey')} * (pi() / 180.0))"
    lon1 = f"({sql_lon('o_orderkey')} * (pi() / 180.0))"
    brg = "((o_orderkey % 360)::double * (pi() / 180.0))"
    dlt = f"((50000.0 + (o_orderkey % 200)::double * 1000.0) / {rr!r})"
    sinp2 = (
        f"(sin({lat1}) * cos({dlt}) + "
        f"cos({lat1}) * sin({dlt}) * cos({brg}))"
    )
    lat2 = f"asin(least(1.0, greatest(-1.0, {sinp2})))"
    lon2 = (
        f"({lon1} + atan2(sin({brg}) * sin({dlt}) * cos({lat1}), "
        f"cos({dlt}) - sin({lat1}) * {sinp2}))"
    )
    return f"""SELECT o_orderkey,
       {SR(f'degrees({lon2})', 6)} AS dst_lon,
       {SR(f'degrees({lat2})', 6)} AS dst_lat
FROM orders ORDER BY o_orderkey LIMIT 500"""


@register("st_project", _sql_st_project())
def q_st_project(spark, sf_dir):
    """ST_Project (the Spatialite function GDAL exposes through its SQLite
    dialect, ogr/ogrsqlitesqlfunctions.cpp) — geodesy direct problem on the
    sphere: destination point from (origin, bearing, distance), closed-form
    sin/cos/atan2 column math (map-only; lon left unwrapped, documented)."""
    import math as _m

    pts = order_points(spark, sf_dir)
    d2r = _m.pi / 180.0
    rr = G.EARTH_RADIUS
    lat1 = F.col("lat") * d2r
    lon1 = F.col("lon") * d2r
    brg = (F.col("o_orderkey") % 360).cast("double") * d2r
    dlt = (
        F.lit(50000.0) + (F.col("o_orderkey") % 200).cast("double") * 1000.0
    ) / rr
    sinp2 = F.sin(lat1) * F.cos(dlt) + F.cos(lat1) * F.sin(dlt) * F.cos(brg)
    lat2 = F.asin(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), sinp2)))
    lon2 = lon1 + F.atan2(
        F.sin(brg) * F.sin(dlt) * F.cos(lat1),
        F.cos(dlt) - F.sin(lat1) * sinp2,
    )
    return (
        pts.select(
            "o_orderkey",
            R(F.degrees(lon2), 6).alias("dst_lon"),
            R(F.degrees(lat2), 6).alias("dst_lat"),
        )
        .orderBy("o_orderkey")
        .limit(500)
    )


_URL_N = 4000


def _sql_url_raw(id_: str) -> str:
    """Deterministic synthetic URL corpus (no external data): mixed-case
    schemes/hosts, www. prefixes, default + explicit ports, trailing
    slashes, query strings, fragments."""
    return (
        f"(CASE WHEN ({id_}) % 2 = 0 THEN 'http' ELSE 'HTTPS' END) || '://' "
        f"|| (CASE WHEN ({id_}) % 3 = 0 THEN 'www.' ELSE '' END) "
        f"|| (CASE WHEN ({id_}) % 7 = 0 THEN 'NEWS' ELSE 'news' END) "
        f"|| CAST(({id_}) % 5 AS VARCHAR) || '.example' "
        f"|| (CASE ({id_}) % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.org' "
        f"WHEN 2 THEN '.net' ELSE '.io' END) "
        f"|| (CASE WHEN ({id_}) % 6 = 0 THEN "
        f"(CASE WHEN ({id_}) % 2 = 0 THEN ':80' ELSE ':443' END) "
        f"WHEN ({id_}) % 11 = 0 THEN ':8080' ELSE '' END) "
        f"|| '/Page/' || CAST(({id_}) % 13 AS VARCHAR) "
        f"|| (CASE WHEN ({id_}) % 9 = 0 THEN '/' ELSE '' END) "
        f"|| (CASE WHEN ({id_}) % 10 = 0 THEN '?b=2&a=1' ELSE '' END) "
        f"|| (CASE WHEN ({id_}) % 8 = 0 THEN '#Sec' ELSE '' END)"
    )


_URL_ORACLE = f"""
WITH raw AS (SELECT {_sql_url_raw('range')} AS url FROM range({_URL_N})),
parts AS (
  SELECT url,
         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme_n,
         regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS hostport,
         regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
         regexp_extract(url, '(\\?[^#]*)', 1) AS query
  FROM raw),
norm1 AS (
  SELECT url, scheme_n, path, query,
         regexp_replace(lower(regexp_extract(hostport, '^([^:]+)', 1)),
                        '^www\\.', '') AS host_n,
         regexp_extract(hostport, ':([0-9]+)$', 1) AS port_s
  FROM parts),
norm AS (
  SELECT host_n, url,
         scheme_n || '://' || host_n ||
         (CASE WHEN port_s = '' THEN ''
               WHEN scheme_n = 'http'  AND port_s = '80'  THEN ''
               WHEN scheme_n = 'https' AND port_s = '443' THEN ''
               ELSE ':' || port_s END) ||
         (CASE WHEN regexp_replace(path, '/$', '') = '' THEN '/'
               ELSE regexp_replace(path, '/$', '') END) || query AS url_n
  FROM norm1)
SELECT host_n,
       count(*)::BIGINT AS n,
       count(DISTINCT url)::BIGINT AS n_raw,
       count(DISTINCT url_n)::BIGINT AS n_norm,
       min(url_n) AS sample_norm
FROM norm GROUP BY host_n ORDER BY host_n"""


@register("url_normalize", _URL_ORACLE)
def q_url_normalize(spark, sf_dir):
    """URL canonicalization for web-corpus dedup (the Common-Crawl-style
    curation step ahead of exact dedup: lowercase scheme+host, strip www.,
    drop default ports, trim trailing slash, drop fragment, keep query).
    Pure JVM regexp column math — map-only, then one agg shuffle on the
    registrable host; at 100 TB this is the cheap normalize-then-groupBy
    that collapses scheme/port/fragment aliases before hashing."""
    raw = spark.range(_URL_N).select(
        F.expr(_sql_url_raw("id").replace("::VARCHAR", "")
               .replace(" AS VARCHAR", " AS STRING")).alias("url")
    )
    # Each regexp materializes ONCE per stage — composing them in a single
    # expression tree made Catalyst inline every sub-regexp repeatedly and
    # codegen/planning dominated the query (~12 s for 4k rows).  The
    # localCheckpoint-free fix: staged selects so no stage references a
    # regexp more than once after collapse.
    parts = raw.select(
        "url",
        F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
         .alias("scheme_n"),
        F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1)
         .alias("hostport"),
        F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
         .alias("path"),
        F.regexp_extract("url", r"(\?[^#]*)", 1).alias("query"),
    )
    n1 = parts.select(
        "url", "scheme_n", "query",
        F.regexp_replace(
            F.lower(F.regexp_extract("hostport", r"^([^:]+)", 1)),
            r"^www\.", "",
        ).alias("host_n"),
        F.regexp_extract("hostport", r":([0-9]+)$", 1).alias("port_s"),
        F.regexp_replace("path", r"/$", "").alias("path_t"),
    )
    port_n = (
        F.when(F.col("port_s") == "", "")
        .when((F.col("scheme_n") == "http") & (F.col("port_s") == "80"), "")
        .when(
            (F.col("scheme_n") == "https") & (F.col("port_s") == "443"), ""
        )
        .otherwise(F.concat(F.lit(":"), F.col("port_s")))
    )
    path_n = F.when(F.col("path_t") == "", "/").otherwise(F.col("path_t"))
    norm = n1.select(
        "host_n",
        "url",
        F.concat(
            F.col("scheme_n"), F.lit("://"), F.col("host_n"), port_n,
            path_n, F.col("query"),
        ).alias("url_n"),
    )
    return (
        norm.groupBy("host_n")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("url").alias("n_raw"),
            F.countDistinct("url_n").alias("n_norm"),
            F.min("url_n").alias("sample_norm"),
        )
        .orderBy("host_n")
    )


_WDL_TRACKS, _WDL_VERTS = 60, 8


_WDL_ORACLE = f"""
WITH v AS (
  SELECT range // {_WDL_VERTS} AS tid, range % {_WDL_VERTS} AS j
  FROM range({_WDL_TRACKS * _WDL_VERTS})),
pts AS (
  SELECT tid, j,
         ((160 + tid + j * (5 + (tid % 7) * 3) + 180) % 360 - 180)::double
           AS lon,
         (-60 + (tid * 31 + j * 17) % 120)::double AS lat
  FROM v),
seg AS (
  SELECT tid, j, lon AS x1, lat AS y1,
         lead(lon) OVER (PARTITION BY tid ORDER BY j) AS x2,
         lead(lat) OVER (PARTITION BY tid ORDER BY j) AS y2
  FROM pts),
unw AS (
  SELECT tid, x1, y1, y2,
         (CASE WHEN x2 - x1 > 180.0 THEN x2 - 360.0
               WHEN x2 - x1 < -180.0 THEN x2 + 360.0 ELSE x2 END) AS x2u
  FROM seg WHERE x2 IS NOT NULL),
cr AS (
  SELECT tid, x1, y1, y2, x2u,
         (CASE WHEN x2u > 180.0 THEN 1 WHEN x2u < -180.0 THEN 1 ELSE 0 END)
           AS crossed,
         (CASE WHEN x2u > 180.0 THEN
                 y1 + (180.0 - x1) / (x2u - x1) * (y2 - y1)
               WHEN x2u < -180.0 THEN
                 y1 + (-180.0 - x1) / (x2u - x1) * (y2 - y1)
               ELSE 0.0 END) AS clat,
         sqrt((x2u - x1) * (x2u - x1) + (y2 - y1) * (y2 - y1)) AS slen
  FROM unw)
SELECT tid,
       count(*)::BIGINT AS n_segments,
       sum(crossed)::BIGINT AS n_crossings,
       (sum(crossed) + 1)::BIGINT AS n_parts,
       {SR('sum(slen)', 6)} AS len_deg,
       {SR('sum(crossed * clat)', 6)} AS sum_crossing_lat
FROM cr GROUP BY tid ORDER BY tid"""


@register("wrapdateline", _WDL_ORACLE)
def q_wrapdateline(spark, sf_dir):
    """ogr2ogr -wrapdateline (OGRGeometryFactory::transformWithOptions,
    ogr/ogrgeometryfactory.cpp WRAPDATELINE path): detect antimeridian
    crossings per track segment (|Δlon| > 180 ⇒ wrapped), unwrap, and
    split at lon = ±180 with the interpolated crossing latitude.  Gate
    reports per track: segment/crossing/part counts, unwrapped planar
    length, Σ crossing latitudes.  Plan: one window (partitioned by track
    — parallel across tracks at scale) + map-only math + one agg."""
    from pyspark.sql import Window

    n = _WDL_TRACKS * _WDL_VERTS
    v = spark.range(n).select(
        (F.col("id") / _WDL_VERTS).cast("long").alias("tid"),
        (F.col("id") % _WDL_VERTS).alias("j"),
    )
    step = F.lit(5) + (F.col("tid") % 7) * 3
    lon_u = F.lit(160) + F.col("tid") + F.col("j") * step
    pts = v.select(
        "tid", "j",
        ((lon_u + 180) % 360 - 180).cast("double").alias("lon"),
        (F.lit(-60) + (F.col("tid") * 31 + F.col("j") * 17) % 120)
        .cast("double").alias("lat"),
    )
    w = Window.partitionBy("tid").orderBy("j")
    seg = pts.select(
        "tid",
        F.col("lon").alias("x1"), F.col("lat").alias("y1"),
        F.lead("lon").over(w).alias("x2"),
        F.lead("lat").over(w).alias("y2"),
    ).where(F.col("x2").isNotNull())
    x2u = (
        F.when(F.col("x2") - F.col("x1") > 180.0, F.col("x2") - 360.0)
        .when(F.col("x2") - F.col("x1") < -180.0, F.col("x2") + 360.0)
        .otherwise(F.col("x2"))
    )
    seg = seg.withColumn("x2u", x2u)
    crossed = (
        F.when(F.col("x2u") > 180.0, 1)
        .when(F.col("x2u") < -180.0, 1)
        .otherwise(0)
    )
    clat = (
        F.when(
            F.col("x2u") > 180.0,
            F.col("y1") + (F.lit(180.0) - F.col("x1"))
            / (F.col("x2u") - F.col("x1")) * (F.col("y2") - F.col("y1")),
        )
        .when(
            F.col("x2u") < -180.0,
            F.col("y1") + (F.lit(-180.0) - F.col("x1"))
            / (F.col("x2u") - F.col("x1")) * (F.col("y2") - F.col("y1")),
        )
        .otherwise(F.lit(0.0))
    )
    slen = F.sqrt(
        (F.col("x2u") - F.col("x1")) * (F.col("x2u") - F.col("x1"))
        + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
    )
    cr = seg.select(
        "tid", crossed.alias("crossed"), clat.alias("clat"),
        slen.alias("slen"),
    )
    return (
        cr.groupBy("tid")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum("crossed").alias("n_crossings"),
            (F.sum("crossed") + 1).alias("n_parts"),
            R(F.sum("slen"), 6).alias("len_deg"),
            R(F.sum(F.col("crossed") * F.col("clat")), 6).alias(
                "sum_crossing_lat"
            ),
        )
        .orderBy("tid")
    )


_LIP_ORACLE = f"""
WITH v AS (
  SELECT range // {_WDL_VERTS} AS tid, range % {_WDL_VERTS} AS j
  FROM range({_WDL_TRACKS * _WDL_VERTS})),
pts AS (
  SELECT tid, j,
         (160 + tid + j * (5 + (tid % 7) * 3))::double AS x,
         (-60 + (tid * 31 + j * 17) % 120)::double AS y
  FROM v),
seg AS (
  SELECT tid, j, x AS x1, y AS y1,
         lead(x) OVER (PARTITION BY tid ORDER BY j) AS x2,
         lead(y) OVER (PARTITION BY tid ORDER BY j) AS y2
  FROM pts),
lens AS (
  SELECT tid, j, x1, y1, x2, y2,
         sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) AS slen
  FROM seg WHERE x2 IS NOT NULL),
cum AS (
  SELECT *,
         sum(slen) OVER (PARTITION BY tid ORDER BY j
                         ROWS UNBOUNDED PRECEDING) AS cum,
         sum(slen) OVER (PARTITION BY tid) AS total
  FROM lens),
hit AS (
  SELECT *, ((tid % 5) + 1) / 6.0 AS f,
         ((tid % 5) + 1) / 6.0 * total AS d,
         cum - slen AS cum_prev
  FROM cum)
SELECT tid, {SR('f', 6)} AS frac,
       {SR('x1 + (d - cum_prev) / slen * (x2 - x1)', 6)} AS px,
       {SR('y1 + (d - cum_prev) / slen * (y2 - y1)', 6)} AS py,
       {SR('degrees(atan2(x2 - x1, y2 - y1))', 6)} AS azimuth_deg
FROM hit WHERE cum_prev <= d AND d < cum
ORDER BY tid"""


@register("line_interpolate_point", _LIP_ORACLE)
def q_line_interpolate_point(spark, sf_dir):
    """ST_Line_Interpolate_Point + ST_Azimuth (the Spatialite functions
    GDAL's SQLite dialect exposes, ogr/ogrsqlitedialect docs): point at
    fraction f along each track — running-length window cumsum, pick the
    containing segment, lerp.  One window per track partition (parallel
    across tracks), no driver loop; total length via the full-partition
    window both engines share."""
    from pyspark.sql import Window

    n = _WDL_TRACKS * _WDL_VERTS
    v = spark.range(n).select(
        (F.col("id") / _WDL_VERTS).cast("long").alias("tid"),
        (F.col("id") % _WDL_VERTS).alias("j"),
    )
    step = F.lit(5) + (F.col("tid") % 7) * 3
    pts = v.select(
        "tid", "j",
        (F.lit(160) + F.col("tid") + F.col("j") * step)
        .cast("double").alias("x"),
        (F.lit(-60) + (F.col("tid") * 31 + F.col("j") * 17) % 120)
        .cast("double").alias("y"),
    )
    w = Window.partitionBy("tid").orderBy("j")
    seg = pts.select(
        "tid", "j",
        F.col("x").alias("x1"), F.col("y").alias("y1"),
        F.lead("x").over(w).alias("x2"),
        F.lead("y").over(w).alias("y2"),
    ).where(F.col("x2").isNotNull())
    slen = F.sqrt(
        (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
        + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
    )
    seg = seg.withColumn("slen", slen)
    wc = Window.partitionBy("tid").orderBy("j").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("tid")
    seg = seg.withColumn("cum", F.sum("slen").over(wc)).withColumn(
        "total", F.sum("slen").over(wt)
    )
    f_ = ((F.col("tid") % 5) + 1) / 6.0
    seg = (
        seg.withColumn("f", f_)
        .withColumn("d", f_ * F.col("total"))
        .withColumn("cum_prev", F.col("cum") - F.col("slen"))
    )
    t = (F.col("d") - F.col("cum_prev")) / F.col("slen")
    hit = seg.where(
        (F.col("cum_prev") <= F.col("d")) & (F.col("d") < F.col("cum"))
    )
    return hit.select(
        "tid",
        R(F.col("f"), 6).alias("frac"),
        R(F.col("x1") + t * (F.col("x2") - F.col("x1")), 6).alias("px"),
        R(F.col("y1") + t * (F.col("y2") - F.col("y1")), 6).alias("py"),
        R(
            F.degrees(
                F.atan2(F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1"))
            ),
            6,
        ).alias("azimuth_deg"),
    ).orderBy("tid")


# ---------------------------------------------------------------------------
# Voronoi diagram (dual of the Delaunay gate's triangulation)
# ---------------------------------------------------------------------------

_VOR_P = 600
_VOR_PX = "((pid * 104729 + 9001) % 3600000) / 10000.0 - 180.0" \
    " + ((pid * pid) % 97) * 1e-6"
_VOR_PY = "((pid * 95231 + 4567) % 1660000) / 10000.0 - 83.0" \
    " + ((pid * pid * pid) % 91) * 1e-6"


def _sql_voronoi() -> str:
    # INDEPENDENT oracle: never builds a cell.  The Voronoi region of site
    # s is {q : s = argmin dist(q, site)}, so probe ownership is brute-
    # force nearest-site; interior sites (bounded cells) are those NOT on
    # the convex hull (all-points-left edge test, delaunay-oracle style).
    return f"""
WITH pts AS ({SQL_POINTS}),
s AS (SELECT o_orderkey AS sid, lon + {_DJX} AS x, lat + {_DJY} AS y
      FROM pts WHERE {DELAUNAY_PRED}),
he AS (
  SELECT a.sid AS ia FROM s a JOIN s b ON a.sid <> b.sid
  WHERE NOT EXISTS (
    SELECT 1 FROM s c WHERE c.sid <> a.sid AND c.sid <> b.sid
      AND (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) < 0)),
hull_v AS (SELECT DISTINCT ia AS sid FROM he),
pr AS (SELECT range AS pid, {_VOR_PX} AS px, {_VOR_PY} AS py
       FROM range({_VOR_P})),
cand AS (
  SELECT pr.pid, s.sid,
         (s.x - pr.px) * (s.x - pr.px) + (s.y - pr.py) * (s.y - pr.py)
           AS d2
  FROM pr CROSS JOIN s),
best AS (
  SELECT pid, sid, d2,
         row_number() OVER (PARTITION BY pid ORDER BY d2, sid) AS rk
  FROM cand)
SELECT pid AS probe_id, sid AS site_id, {SR('sqrt(d2)', 6)} AS dist
FROM best
WHERE rk = 1 AND sid NOT IN (SELECT sid FROM hull_v)
ORDER BY pid"""


@register("voronoi_assign", _sql_voronoi())
def q_voronoi_assign(spark, sf_dir):
    """Voronoi diagram via the Delaunay dual (ST_VoronojDiagram — the
    Spatialite function GDAL's SQLite dialect exposes; GEOSVoronoiDiagram
    semantics): bounded cells for interior sites = angle-ordered
    circumcenters of incident triangles (operators/triangulate.py
    voronoi_interior_cells), then probe points assigned by convex-cell
    point-in-polygon.  The oracle never constructs a cell — it assigns
    probes by brute-force nearest-site and keeps those owned by interior
    (non-hull) sites; agreement pins the dual construction geometrically.
    Plan: group kernel builds the (tiny) cell dimension, broadcast to a
    map-only probe scan — same prepared-geometry shape as pip_broadcast."""
    from typing import Iterator

    import pandas as pd

    from gdal_spark.operators import triangulate as TRI

    sites = (
        order_points(spark, sf_dir)
        .filter(F.expr(DELAUNAY_PRED))
        .select(
            "o_orderkey",
            (F.col("lon") + F.expr(_DJX)).alias("x"),
            (F.col("lat") + F.expr(_DJY)).alias("y"),
        )
    )

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        p = np.stack(
            [pdf["x"].to_numpy(np.float64), pdf["y"].to_numpy(np.float64)],
            axis=1,
        )
        sids = pdf["o_orderkey"].to_numpy(np.int64)
        rows = {"site_id": [], "sx": [], "sy": [], "vxs": [], "vys": []}
        for v, cell in TRI.voronoi_interior_cells(p):
            rows["site_id"].append(int(sids[v]))
            rows["sx"].append(float(p[v, 0]))
            rows["sy"].append(float(p[v, 1]))
            rows["vxs"].append([float(c) for c in cell[:, 0]])
            rows["vys"].append([float(c) for c in cell[:, 1]])
        return pd.DataFrame(rows)

    cells_df = sites.withColumn("_g", F.lit(1)).groupBy("_g").applyInPandas(
        build,
        "site_id long, sx double, sy double, "
        "vxs array<double>, vys array<double>",
    )
    # Tiny dimension: collect + broadcast (the prepared-geometry pattern).
    cells = [
        (r["site_id"], r["sx"], r["sy"],
         np.asarray(r["vxs"]), np.asarray(r["vys"]))
        for r in cells_df.collect()
    ]
    cells.sort(key=lambda c: c[0])
    bc = spark.sparkContext.broadcast(cells)
    import math as _m

    probes = spark.range(_VOR_P).select(
        F.col("id").alias("pid"),
        F.expr(_VOR_PX.replace("pid", "id")).alias("px"),
        F.expr(_VOR_PY.replace("pid", "id")).alias("py"),
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cs = bc.value
        envs = [
            (vxs.min(), vys.min(), vxs.max(), vys.max(), sid, sx, sy,
             vxs, vys)
            for sid, sx, sy, vxs, vys in cs
        ]
        for pdf in batches:
            out = {"probe_id": [], "site_id": [], "dist": []}
            for pid, px, py in zip(pdf["pid"], pdf["px"], pdf["py"]):
                px_, py_ = float(px), float(py)
                for x0, y0, x1, y1, sid, sx, sy, vxs, vys in envs:
                    if not (x0 <= px_ <= x1 and y0 <= py_ <= y1):
                        continue
                    nx = np.roll(vxs, -1)
                    ny = np.roll(vys, -1)
                    cross = (nx - vxs) * (py_ - vys) - (ny - vys) * (
                        px_ - vxs
                    )
                    if np.all(cross >= 0.0):
                        d2 = (sx - px_) * (sx - px_) + (sy - py_) * (
                            sy - py_
                        )
                        out["probe_id"].append(int(pid))
                        out["site_id"].append(int(sid))
                        out["dist"].append(_m.sqrt(d2))
                        break
            yield pd.DataFrame(out)

    matched = probes.mapInPandas(
        assign, "probe_id long, site_id long, dist double"
    )
    return matched.select(
        "probe_id", "site_id", R("dist", 6).alias("dist")
    ).orderBy("probe_id")


_LAEA_LON0, _LAEA_LAT1 = 10.0, 52.0  # ETRS89-LAEA-style center (EPSG:3035)


def _sql_laea() -> str:
    x, y = CRS.sql_laea_forward(
        sql_lon("o_orderkey"), sql_lat("o_orderkey"), _LAEA_LON0, _LAEA_LAT1
    )
    return f"""SELECT o_orderkey, {SR(x, 3)} AS laea_x, {SR(y, 3)} AS laea_y
FROM orders ORDER BY o_orderkey LIMIT 400"""


@register("laea_project", _sql_laea())
def q_laea_project(spark, sf_dir):
    """Lambert Azimuthal Equal-Area forward (the projection method behind
    EPSG:3035, reached by the reference through PROJ — ogr/ogrct.cpp;
    spherical Snyder 24-2..24-4 here, same sphere as the geodesic gates):
    pure column math, map-only, whole-stage codegen."""
    pts = order_points(spark, sf_dir)
    x, y = CRS.laea_forward(
        F.col("lon"), F.col("lat"), _LAEA_LON0, _LAEA_LAT1
    )
    return (
        pts.select(
            "o_orderkey",
            R(x, 3).alias("laea_x"),
            R(y, 3).alias("laea_y"),
        )
        .orderBy("o_orderkey")
        .limit(400)
    )


# ---------------------------------------------------------------------------
# Lineage / metrics / checkpoint-resume gate (north rule: "Every stage
# writes per-partition lineage and row/byte metrics to metadata tables and
# is resumable from the last committed checkpoint snapshot")
# ---------------------------------------------------------------------------

_LINEAGE_ORACLE = """
WITH c AS (SELECT count(*)::BIGINT AS n FROM orders WHERE o_orderkey % 3 = 0)
SELECT * FROM (
  SELECT 'filtered' AS stage, n AS rows_total, 1 AS committed,
         1 AS skipped_on_rerun, 1 AS has_partition_metrics,
         1 AS bytes_positive FROM c
  UNION ALL
  SELECT 'tiled', n, 1, 1, 1, 1 FROM c)
ORDER BY stage"""


@register("lineage_metrics", _LINEAGE_ORACLE)
def q_lineage_metrics(spark, sf_dir):
    """End-to-end lineage/metrics/resume gate (plans/lineage.py — the
    Iceberg-snapshot pattern over plain parquet: per-stage atomic _COMMIT
    manifests, per-partition (rows, bytes) metrics tables, fingerprint-
    keyed skip-on-rerun).  Runs a 2-stage pipeline TWICE: first run
    commits both stages, second run must skip both from the checkpoint
    manifests; the per-partition metrics table must reproduce each
    stage's exact row count with positive byte estimates.  The oracle
    recomputes the expected row counts straight from the source table —
    the engine numbers come from the committed manifests + metrics
    parquet, so agreement pins the whole protocol."""
    import shutil
    import tempfile

    from gdal_spark.plans.lineage import Pipeline

    root = tempfile.mkdtemp(prefix="gdalspark_lineage_gate_")
    pl = (
        Pipeline(root)
        .stage("filtered", lambda df: df.where(F.col("o_orderkey") % 3 == 0))
        .stage(
            "tiled",
            lambda df: TL.assign_tiles(df, zoom=6, with_quadkey=False),
        )
    )
    src = order_points(spark, sf_dir)
    first = pl.run(spark, src)
    second = pl.run(spark, src)  # must resume: both stages skipped
    met = (
        pl.metrics(spark)
        .groupBy("stage")
        .agg(
            F.sum("rows").alias("m_rows"),
            F.min("bytes_est").alias("m_bytes_min"),
            F.count("*").alias("m_parts"),
        )
        .collect()
    )
    met_by_stage = {r["stage"]: r for r in met}
    rows = []
    for r1, r2 in zip(first, second):
        m = met_by_stage.get(r1.name)
        rows.append(
            (
                r1.name,
                int(r1.rows),
                int((not r1.skipped) and m is not None
                    and int(m["m_rows"]) == int(r1.rows)),
                int(r2.skipped and r2.rows == r1.rows),
                int(m is not None and int(m["m_parts"]) >= 1),
                int(m is not None and int(m["m_bytes_min"]) > 0),
            )
        )
    shutil.rmtree(root, ignore_errors=True)
    out = spark.createDataFrame(
        rows,
        "stage string, rows_total long, committed int, "
        "skipped_on_rerun int, has_partition_metrics int, bytes_positive int",
    )
    return out.orderBy("stage")


_OGRINFO_ORACLE = f"""
WITH pseg(poly_id, x2a, y2a, x1a, y1a) AS ({_segment_values()}),
mseg(poly_id, x2a, y2a, x1a, y1a) AS ({_mp_segment_values()}),
layers AS (
  SELECT 'polygons' AS layer, 'POLYGON' AS geom_type, poly_id,
         x1a, y1a, x2a, y2a FROM pseg
  UNION ALL
  SELECT 'multipolygons', 'MULTIPOLYGON', poly_id, x1a, y1a, x2a, y2a
  FROM mseg)
SELECT layer, geom_type,
       count(DISTINCT poly_id)::BIGINT AS n_features,
       min(least(x1a, x2a)) AS xmin, min(least(y1a, y2a)) AS ymin,
       max(greatest(x1a, x2a)) AS xmax, max(greatest(y1a, y2a)) AS ymax
FROM layers GROUP BY layer, geom_type ORDER BY layer"""


@register("ogrinfo_summary", _OGRINFO_ORACLE)
def q_ogrinfo_summary(spark, sf_dir):
    """ogrinfo -so layer summary (apps/ogrinfo_lib.cpp ReportOnLayer:
    feature count, layer extent, geometry type) over both polygon layers.
    Engine side reads the layer DataFrames and reduces envelope columns —
    a metadata-sized partial-agg reduction (at scale this is the
    min/max/count pushdown path, no row materialization)."""
    polys = polygons_df(spark).select(
        F.lit("polygons").alias("layer"),
        F.lit("POLYGON").alias("geom_type"),
        "poly_id", "xmin", "ymin", "xmax", "ymax",
    )
    mpolys = multipolygons_df(spark).select(
        F.lit("multipolygons").alias("layer"),
        F.lit("MULTIPOLYGON").alias("geom_type"),
        "poly_id", "xmin", "ymin", "xmax", "ymax",
    )
    both = polys.unionByName(mpolys)
    return (
        both.groupBy("layer", "geom_type")
        .agg(
            F.countDistinct("poly_id").alias("n_features"),
            F.min("xmin").alias("xmin"),
            F.min("ymin").alias("ymin"),
            F.max("xmax").alias("xmax"),
            F.max("ymax").alias("ymax"),
        )
        .orderBy("layer")
    )


_PQ_M, _PQ_K = 4, 8  # 4 subspaces x 16 dims, 8 codes each -> 12-bit code


def _sql_pq_encode() -> str:
    code, err = SIM.sql_pq_encode("v.embedding", _PQ_M, _PQ_K, EMB_DIM)
    return f"""WITH enc AS (
  SELECT v.vec_id, {code} AS code, {err} AS err_micro FROM embeddings v)
SELECT code, count(*)::BIGINT AS n, sum(err_micro)::BIGINT AS sum_err_micro,
       min(vec_id) AS first_vec
FROM enc GROUP BY code ORDER BY n DESC, code LIMIT 20"""


@register("embed_pq_encode", _sql_pq_encode())
def q_embed_pq_encode(spark, sf_dir):
    """Product quantization encode (Jégou/Douze/Schmid 2011, the Faiss PQ
    codebook shape — completes the ANN menu next to brute/LSH/IVF):
    4×16-dim subspaces, 8 deterministic closed-form centroids each,
    stable-rounded L2 argmin per subspace, 12-bit combined code.
    Map-only JVM column math (no Python in the encode), one partial-agg
    shuffle on the code; quantization error carried as exact integer
    micro-units so the bucket sum is association-free."""
    emb = _read(spark, sf_dir, "embeddings")
    code, err = SIM.pq_encode_cols("embedding", _PQ_M, _PQ_K, EMB_DIM)
    enc = emb.select(
        "vec_id", code.alias("code"), err.alias("err_micro")
    )
    return (
        enc.groupBy("code")
        .agg(
            F.count("*").alias("n"),
            F.sum("err_micro").alias("sum_err_micro"),
            F.min("vec_id").alias("first_vec"),
        )
        .orderBy(F.desc("n"), "code")
        .limit(20)
    )


_PQ_NQ, _PQ_TOPK = 5, 5


def _sql_pq_adc() -> str:
    code, _err = SIM.sql_pq_encode("v.embedding", _PQ_M, _PQ_K, EMB_DIM)
    subdim = EMB_DIM // _PQ_M
    # per-query lookup table: rounded L2 from the query subvector to each
    # sub-centroid; ADC = sum over subspaces of LUT[m][code digit m]
    lut_terms = []
    for m in range(_PQ_M):
        dists = []
        for k in range(_PQ_K):
            c = SIM.pq_centroid(m, k, subdim)
            clit = "[" + ", ".join(repr(x) for x in c) + "]"
            d2 = (
                f"list_sum(list_transform(range(1, {subdim} + 1), "
                f"i -> ((q.embedding)[{m * subdim} + i]::double - {clit}[i])"
                f" * ((q.embedding)[{m * subdim} + i]::double - {clit}[i])))"
            )
            dists.append(SIM.sql_stable_round(d2, SIM.ROUND_DP))
        lut_terms.append(
            f"([{', '.join(dists)}])[((e.code // {_PQ_K**m}) % {_PQ_K}) + 1]"
        )
    adc = "(" + " + ".join(lut_terms) + ")"
    return f"""WITH enc AS (
  SELECT v.vec_id, {code} AS code FROM embeddings v),
q AS (SELECT vec_id AS qid, embedding FROM embeddings
      WHERE vec_id % 50 = 3 ORDER BY vec_id LIMIT {_PQ_NQ}),
scored AS (
  SELECT q.qid, e.vec_id,
         floor({adc} * 1e6 + 0.5)::bigint AS adc_micro
  FROM q CROSS JOIN enc e WHERE e.vec_id <> q.qid),
rk AS (
  SELECT qid, vec_id, adc_micro,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adc_micro, vec_id) AS rnk
  FROM scored)
SELECT qid, rnk, vec_id, adc_micro FROM rk
WHERE rnk <= {_PQ_TOPK} ORDER BY qid, rnk"""


@register("embed_pq_adc", _sql_pq_adc())
def q_embed_pq_adc(spark, sf_dir):
    """PQ asymmetric-distance search (ADC, Jégou 2011 §III): queries stay
    un-quantized; each builds an M×K lookup table of sub-distances and a
    candidate's score is the sum of LUT entries addressed by its code
    digits.  The LUT ride is a broadcast (queries are the tiny side);
    candidates are scored map-only from their 12-bit code — at scale this
    is the classic scan-codes-not-vectors plan (16 bytes/vector instead
    of 256).  Scores carried as exact integer micro-units; top-k per
    query, (score, id)-lexicographic ties."""
    from pyspark.sql import Window

    emb = _read(spark, sf_dir, "embeddings")
    code, _err = SIM.pq_encode_cols("embedding", _PQ_M, _PQ_K, EMB_DIM)
    enc = emb.select("vec_id", code.alias("code"))
    queries = (
        emb.where(F.col("vec_id") % 50 == 3)
        .orderBy("vec_id")
        .limit(_PQ_NQ)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    subdim = EMB_DIM // _PQ_M
    qx = F.col("embedding").cast("array<double>")
    lut_cols = []
    for m in range(_PQ_M):
        sl = F.slice(qx, m * subdim + 1, subdim)
        dists = []
        for k in range(_PQ_K):
            c = SIM.pq_centroid(m, k, subdim)
            carr = F.array(*[F.lit(float(x)) for x in c])
            d2 = F.aggregate(
                F.zip_with(sl, carr, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            dists.append(SIM.stable_round(d2, SIM.ROUND_DP))
        lut_cols.append(F.array(*dists).alias(f"lut{m}"))
    qlut = queries.select("qid", *lut_cols)
    joined = F.broadcast(qlut).crossJoin(enc).where(
        F.col("vec_id") != F.col("qid")
    )
    adc = None
    for m in range(_PQ_M):
        digit = ((F.col("code") / (_PQ_K**m)).cast("long") % _PQ_K).cast(
            "int"
        )
        term = F.element_at(F.col(f"lut{m}"), digit + 1)
        adc = term if adc is None else adc + term
    scored = joined.select(
        "qid", "vec_id",
        F.floor(adc * 1e6 + F.lit(0.5)).cast("long").alias("adc_micro"),
    )
    w = Window.partitionBy("qid").orderBy("adc_micro", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _PQ_TOPK)
        .select("qid", "rnk", "vec_id", "adc_micro")
        .orderBy("qid", "rnk")
    )


# ---------------------------------------------------------------------------
# 23. Spatial clustering: DBSCAN + cluster-within (PostGIS ST_ClusterDBSCAN /
# ST_ClusterWithin semantics — the reference delegates these to its SQLite/
# PostGIS dialect engines; here the engine is native).  Points use the
# CLUSTERED geotag rule (data/geotag.py: 8 deterministic md5-jittered blobs
# over the sparse congruential background + the Paris hot cell), because the
# base lattice is deliberately uniform and density clustering would find
# nothing but Paris.
# ---------------------------------------------------------------------------

from gdal_spark.data.geotag import (  # noqa: E402
    clustered_lat, clustered_lon, sql_clustered_lat, sql_clustered_lon,
)
from gdal_spark.operators import cluster as CL  # noqa: E402

DBSCAN_EPS, DBSCAN_MINPTS = 0.3, 14

_SQL_CLUSTERED_PTS = (
    f"SELECT o_orderkey AS id, {sql_clustered_lon('o_orderkey')} AS x, "
    f"{sql_clustered_lat('o_orderkey')} AS y FROM orders"
)


def _sql_within_pairs(eps: float) -> str:
    """Cell-bucketed within-eps directed pairs — the same 3x3-neighborhood
    equi-join the engine runs (no all-pairs product in the oracle either)."""
    return f"""
c AS (SELECT id, x, y, floor(x / {eps}) AS cx, floor(y / {eps}) AS cy
      FROM pts),
offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                        (1,-1),(1,0),(1,1)),
probe AS (SELECT id, x, y, cx + dx AS cx, cy + dy AS cy FROM c, offs),
pairs AS (
  SELECT a.id AS u, b.id AS v FROM probe a JOIN c b
    ON a.cx = b.cx AND a.cy = b.cy AND a.id <> b.id
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       <= {eps} * {eps})"""


def _sql_dbscan() -> str:
    return f"""
WITH RECURSIVE pts AS ({_SQL_CLUSTERED_PTS}),{_sql_within_pairs(DBSCAN_EPS)},
deg AS (SELECT u, count(*) AS n FROM pairs GROUP BY u),
core AS (SELECT u FROM deg WHERE n + 1 >= {DBSCAN_MINPTS}),
cedges AS (SELECT p.u, p.v FROM pairs p
           JOIN core a ON p.u = a.u JOIN core b ON p.v = b.u),
reach(u, r) AS (
  SELECT u, u FROM core
  UNION
  SELECT e.u, rc.r FROM cedges e JOIN reach rc ON rc.u = e.v),
lab AS (SELECT u, min(r) AS cluster_id FROM reach GROUP BY u),
border AS (
  SELECT p.u, min(l.cluster_id) AS cluster_id
  FROM pairs p JOIN lab l ON p.v = l.u
  WHERE p.u NOT IN (SELECT u FROM core) GROUP BY p.u),
alllab AS (
  SELECT u, cluster_id, TRUE AS is_core FROM lab
  UNION ALL
  SELECT u, cluster_id, FALSE AS is_core FROM border)
SELECT p.id AS o_orderkey, coalesce(a.cluster_id, -1) AS cluster_id,
       coalesce(a.is_core, FALSE) AS is_core
FROM pts p LEFT JOIN alllab a ON p.id = a.u"""


@register("st_cluster_dbscan", _sql_dbscan())
def q_st_cluster_dbscan(spark, sf_dir):
    """DBSCAN (Ester et al. 1996; PostGIS ST_ClusterDBSCAN semantics) over
    the clustered geotag fixture: cell-bucketed eps-neighbor equi-join →
    degree count → core points → distributed CC (min-label + pointer
    jumping) over the core-core graph → border assignment (min core
    cluster), noise = -1.  Oracle: independent recursive-CTE transitive
    closure.  At scale: one bucketed shuffle for pairs, O(log diameter)
    CC rounds — no all-pairs product, hot cells are AQE-splittable."""
    pts = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        clustered_lon(F.col("o_orderkey")).alias("x"),
        clustered_lat(F.col("o_orderkey")).alias("y"),
    )
    out = CL.cluster_dbscan(pts, eps=DBSCAN_EPS, minpts=DBSCAN_MINPTS)
    return out.select(
        F.col("id").alias("o_orderkey"),
        F.coalesce(F.col("cluster_id"), F.lit(-1)).alias("cluster_id"),
        "is_core",
    )


def _sql_cluster_within() -> str:
    return f"""
WITH RECURSIVE pts AS ({_SQL_CLUSTERED_PTS}),{_sql_within_pairs(DBSCAN_EPS)},
verts AS (SELECT DISTINCT u FROM pairs),
reach(u, r) AS (
  SELECT u, u FROM verts
  UNION
  SELECT e.u, rc.r FROM pairs e JOIN reach rc ON rc.u = e.v),
lab AS (SELECT u, min(r) AS cluster_id FROM reach GROUP BY u),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
SELECT p.id AS o_orderkey,
       coalesce(l.cluster_id, p.id) AS cluster_id,
       coalesce(s.cluster_size, 1) AS cluster_size
FROM pts p LEFT JOIN lab l ON p.id = l.u
LEFT JOIN sz s ON l.cluster_id = s.cluster_id"""


@register("st_cluster_within", _sql_cluster_within())
def q_st_cluster_within(spark, sf_dir):
    """Single-linkage clustering (PostGIS ST_ClusterWithin): connected
    components of the <=eps graph over ALL points; singletons are their own
    cluster.  Same bucketed pair join + CC machinery as DBSCAN, no minpts
    gate.  Oracle: recursive-CTE closure (independent algorithm)."""
    pts = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        clustered_lon(F.col("o_orderkey")).alias("x"),
        clustered_lat(F.col("o_orderkey")).alias("y"),
    )
    out = CL.cluster_within(pts, eps=DBSCAN_EPS)
    return out.select(
        F.col("id").alias("o_orderkey"), "cluster_id", "cluster_size"
    )


# ---------------------------------------------------------------------------
# 24. Corpus curation: line-level dedup (CCNet/RefinedWeb) and cross-document
# exact-substring dedup (ExactSubstr-lite) — the two boilerplate/verbatim-
# overlap filters a training-data pipeline runs after document-level dedup.
# ---------------------------------------------------------------------------

LINE_DUP_MIN = 2


def _sql_line_dedup() -> str:
    lw = T.LINE_WORDS
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents),
n AS (SELECT doc_id, t, len(t) AS nt FROM toks),
lines AS (
  SELECT doc_id, nt, t,
         unnest(range(0, cast(ceil(nt / {lw}.0) as bigint))) AS idx
  FROM n),
lt AS (
  SELECT doc_id, idx,
         array_to_string(list_slice(t, idx * {lw} + 1, idx * {lw} + {lw}), ' ') AS line,
         least({lw}, nt - idx * {lw}) AS lw
  FROM lines),
cnt AS (SELECT md5(line) AS lh, count(DISTINCT doc_id) AS nd
        FROM lt GROUP BY md5(line)),
k AS (SELECT l.doc_id, l.idx, l.line, l.lw, (c.nd < {LINE_DUP_MIN}) AS keep
      FROM lt l JOIN cnt c ON md5(l.line) = c.lh)
SELECT doc_id, count(*)::bigint AS n_lines,
       sum(CASE WHEN keep THEN 0 ELSE 1 END)::bigint AS n_removed,
       sum(CASE WHEN keep THEN lw ELSE 0 END)::bigint AS n_kept_words,
       md5(coalesce(string_agg(CASE WHEN keep THEN line END, ' ' ORDER BY idx), '')) AS clean_digest
FROM k GROUP BY doc_id"""


@register("text_line_dedup", _sql_line_dedup())
def q_text_line_dedup(spark, sf_dir):
    """Corpus-level LINE dedup: strip pseudo-lines (12-word windows — the
    fixture is single-line word soup) that occur in >= 2 distinct docs,
    reassemble, fingerprint the cleaned text.  One shuffle on the line md5
    (partial agg), hash-join back, one groupBy(doc_id).  Oracle: the same
    semantics via DuckDB list ops + ordered string_agg."""
    return T.line_dedup(
        _read(spark, sf_dir, "documents"), min_docs=LINE_DUP_MIN
    ).select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_removed").cast("long").alias("n_removed"),
        F.col("n_kept_words").cast("long").alias("n_kept_words"),
        "clean_digest",
    )


def _sql_substring_dup() -> str:
    k, s = T.SUBSTR_CHARS, T.SUBSTR_STRIDE
    return f"""
WITH base AS (SELECT doc_id, text AS x FROM documents),
eligible AS (SELECT doc_id, x FROM base WHERE length(x) >= {k}),
wins AS (
  SELECT doc_id,
         unnest(range(0, (length(x) - {k}) // {s} + 1)) AS w, x
  FROM eligible),
wh AS (SELECT doc_id, w, md5(substr(x, w * {s} + 1, {k})) AS h FROM wins),
per_hash AS (SELECT h, count(DISTINCT doc_id) AS nd FROM wh GROUP BY h),
dup_w AS (
  SELECT doc_id, count(*)::bigint AS n_windows,
         sum(CASE WHEN p.nd >= 2 THEN 1 ELSE 0 END)::bigint AS n_dup_windows
  FROM wh JOIN per_hash p USING (h) GROUP BY doc_id),
dw AS (SELECT DISTINCT doc_id, h FROM wh),
pairs AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM dw a JOIN dw b ON a.h = b.h AND a.doc_id <> b.doc_id),
partners AS (SELECT da, count(*)::bigint AS n_partners FROM pairs GROUP BY da)
SELECT b.doc_id,
       coalesce(d.n_windows, 0) AS n_windows,
       coalesce(d.n_dup_windows, 0) AS n_dup_windows,
       coalesce(p.n_partners, 0) AS n_partners
FROM base b LEFT JOIN dup_w d ON b.doc_id = d.doc_id
LEFT JOIN partners p ON b.doc_id = p.da"""


@register("text_substring_dup", _sql_substring_dup())
def q_text_substring_dup(spark, sf_dir):
    """Cross-document EXACT-SUBSTRING dedup (ExactSubstr, Lee et al. 2022,
    lite): 60-char windows at stride 20; a window hash shared by >= 2 docs
    marks a verbatim span.  Bucketed window-hash equi-join replaces the
    suffix array — the shape that scales (explode x len/stride, 16-byte
    keys, AQE-splittable hot hashes)."""
    return T.substring_dup_stats(_read(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
        F.col("n_partners").cast("long").alias("n_partners"),
    )


# ---------------------------------------------------------------------------
# 25. Color quantization (rgb2pct / dithering): median-cut palette over the
# reduced histogram + map-only nearest-palette assignment, and ordered Bayer
# dithering (alg/gdalmediancut.cpp, alg/gdaldither.cpp semantics; FS error
# diffusion is pytest-gated in tests/test_quantize.py — inherently serial,
# not SQL-expressible).
# ---------------------------------------------------------------------------

from gdal_spark.operators import quantize as QZ  # noqa: E402

_QW = 64  # quantization fixture: 64x64 RGB image, bands 1..3 closed-form


def _qz_rgb_py() -> "np.ndarray":
    xs, ys = np.meshgrid(np.arange(_QW), np.arange(_QW))
    img = np.stack(
        [(xs * 31 + ys * 17 + c * 7) % 256 for c in (1, 2, 3)], axis=-1
    )
    return img.reshape(-1, 3).astype(np.int64)


def _qz_palette() -> "np.ndarray":
    """Import-time palette from the SAME closed form + 5-bit reduction the
    distributed path uses — embedded into the oracle as literals, so the
    gate verifies the distributed histogram→cut→assign pipeline end-to-end."""
    rgb = _qz_rgb_py()
    keys = (rgb // 8)
    uniq, counts = np.unique(keys, axis=0, return_counts=True)
    order = np.lexsort((uniq[:, 2], uniq[:, 1], uniq[:, 0]))
    colors = uniq[order] * 8 + 4
    return QZ.median_cut(colors, counts[order], n_colors=16)


_QZ_PAL = _qz_palette()


def _qz_pixels(spark):
    px = spark.range(_QW * _QW).select(
        (F.col("id") % _QW).alias("x"),
        (F.col("id") / _QW).cast("long").alias("y"),
    )
    return px.select(
        "x", "y",
        *[((F.col("x") * 31 + F.col("y") * 17 + c * 7) % 256).alias(n)
          for c, n in ((1, "r"), (2, "g"), (3, "b"))],
    )


_SQL_QZ_PX = (
    f"SELECT i % {_QW} AS x, i // {_QW} AS y, "
    + ", ".join(
        f"(((i % {_QW}) * 31 + (i // {_QW}) * 17 + {c} * 7) % 256)::bigint AS {n}"
        for c, n in ((1, "r"), (2, "g"), (3, "b"))
    )
    + f" FROM range(0, {_QW * _QW}) t(i)"
)


def _sql_rgb2pct() -> str:
    a = QZ.sql_palette_assign(_QZ_PAL, "r", "g", "b")
    return f"""WITH px AS ({_SQL_QZ_PX})
SELECT x, y, {a['pct_idx']} AS pct_idx,
       {a['pr']} AS pr, {a['pg']} AS pg, {a['pb']} AS pb
FROM px"""


@register("raster_rgb2pct", _sql_rgb2pct())
def q_raster_rgb2pct(spark, sf_dir):
    """rgb2pct (GDALComputeMedianCutPCT + nearest-entry application): the
    16-color median-cut palette is built from the DISTRIBUTED 5-bit-reduced
    histogram (one groupBy, <=32768 groups at any scale, driver-side cut),
    then applied map-only as an argmin over broadcast palette literals.
    Oracle embeds the import-time numpy palette — any divergence in the
    distributed histogram/cut fails the hash."""
    px = _qz_pixels(spark)
    pal = QZ.compute_median_cut_palette(px, n_colors=16)
    return QZ.assign_palette_index(px, pal).select(
        "x", "y", "pct_idx", "pr", "pg", "pb"
    )


def _sql_dither_bayer() -> str:
    return f"""WITH px AS ({_SQL_QZ_PX})
SELECT x, y,
       {QZ.sql_bayer_level('r', 'x', 'y')} AS lr,
       {QZ.sql_bayer_level('g', 'x', 'y')} AS lg,
       {QZ.sql_bayer_level('b', 'x', 'y')} AS lb
FROM px"""


@register("raster_dither_bayer", _sql_dither_bayer())
def q_raster_dither_bayer(spark, sf_dir):
    """Ordered 4x4 Bayer dithering to 6 levels/channel (the web-safe cube):
    pure column math on (x, y, value) — the dither that is safe to run
    TILED at scale (FS error diffusion is serial; see dither_fs, which runs
    per-image via applyInPandas and is pytest-verified)."""
    px = _qz_pixels(spark)
    return px.select(
        "x", "y",
        QZ.bayer_level(F.col("r"), F.col("x"), F.col("y")).alias("lr"),
        QZ.bayer_level(F.col("g"), F.col("x"), F.col("y")).alias("lg"),
        QZ.bayer_level(F.col("b"), F.col("x"), F.col("y")).alias("lb"),
    )


# ---------------------------------------------------------------------------
# 26. Full concave buffer (upgrades the convex-only MVP of SURVEY row 35):
# raw offset curve -> noding -> winding-boundary extraction.  Gate: probe
# grid verified against the DEFINITION of the buffer — inside(buffer(P, d))
# <=> inside(P) OR dist(probe, ∂P) <= d — with a ±0.01 exclusion band
# around dist = d (arc discretization sagitta at quad_segs=8 is 0.0022·d,
# well inside the band), so every kept probe must match EXACTLY.
# ---------------------------------------------------------------------------

_BUFC_D = 0.45
_BUFC_N = 41            # 41x41 probe grid per shape
_BUFC_STEP = 0.23       # never lands on a fixture edge (parity-checked)
_BUFC_X0 = -1.5
_BUFC_BAND = 0.01

_BUFC_SHAPES = [
    # bid 0: L (1 reflex vertex)
    [[(0, 0), (4, 0), (4, 1), (1, 1), (1, 3), (0, 3)]],
    # bid 1: U (2 reflex vertices)
    [[(0, 0), (5, 0), (5, 3), (4, 3), (4, 1), (1, 1), (1, 3), (0, 3)]],
    # bid 2: 4-point star (4 reflex vertices, diagonal edges)
    [[(0, 0), (2, 1), (4, 0), (3, 2), (4, 4), (2, 3), (0, 4), (1, 2)]],
    # bid 3: square with square hole (hole erosion path)
    [[(0, 0), (6, 0), (6, 6), (0, 6)], [(2, 2), (2, 4), (4, 4), (4, 2)]],
]


def _bufc_rings_np() -> list:
    out = []
    for shape in _BUFC_SHAPES:
        rings = []
        for r in shape:
            a = np.asarray(r, dtype=np.float64)
            rings.append(np.vstack([a, a[:1]]))
        out.append(rings)
    return out


def _bufc_seg_values() -> str:
    rows = []
    for bid, rings in enumerate(_bufc_rings_np()):
        for ring in rings:
            for i in range(ring.shape[0] - 1):
                rows.append(
                    f"({bid}, {ring[i, 0]!r}::double, {ring[i, 1]!r}::double, "
                    f"{ring[i + 1, 0]!r}::double, {ring[i + 1, 1]!r}::double)"
                )
    return "VALUES " + ", ".join(rows)


def _sql_buffer_concave() -> str:
    d, n, st, x0, band = (
        _BUFC_D, _BUFC_N, _BUFC_STEP, _BUFC_X0, _BUFC_BAND,
    )
    tdist = (
        "sqrt((p.px - (s.ax + least(1.0, greatest(0.0, "
        "((p.px - s.ax) * (s.bx - s.ax) + (p.py - s.ay) * (s.by - s.ay)) "
        "/ ((s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay))"
        ")) * (s.bx - s.ax))) * (p.px - (s.ax + least(1.0, greatest(0.0, "
        "((p.px - s.ax) * (s.bx - s.ax) + (p.py - s.ay) * (s.by - s.ay)) "
        "/ ((s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay))"
        ")) * (s.bx - s.ax))) + "
        "(p.py - (s.ay + least(1.0, greatest(0.0, "
        "((p.px - s.ax) * (s.bx - s.ax) + (p.py - s.ay) * (s.by - s.ay)) "
        "/ ((s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay))"
        ")) * (s.by - s.ay))) * (p.py - (s.ay + least(1.0, greatest(0.0, "
        "((p.px - s.ax) * (s.bx - s.ax) + (p.py - s.ay) * (s.by - s.ay)) "
        "/ ((s.bx - s.ax) * (s.bx - s.ax) + (s.by - s.ay) * (s.by - s.ay))"
        ")) * (s.by - s.ay))))"
    )
    crossing = (
        "CASE WHEN (s.ay <= p.py) <> (s.by <= p.py) "
        "AND p.px < s.ax + (p.py - s.ay) * (s.bx - s.ax) / (s.by - s.ay) "
        "THEN 1 ELSE 0 END"
    )
    return f"""
WITH probes AS (
  SELECT i // {n * n} AS bid,
         (i % {n * n}) // {n} AS gi, i % {n} AS gj,
         {x0} + ((i % {n * n}) // {n}) * {st} AS px,
         {x0} + (i % {n}) * {st} AS py
  FROM range(0, {len(_BUFC_SHAPES) * n * n}) t(i)),
seg(bid, ax, ay, bx, by) AS ({_bufc_seg_values()}),
m AS (
  SELECT p.bid, p.gi, p.gj,
         min({tdist}) AS sd,
         sum({crossing}) AS ncross
  FROM probes p JOIN seg s ON p.bid = s.bid
  GROUP BY p.bid, p.gi, p.gj)
SELECT bid, gi * {n} + gj AS pid,
       (ncross % 2 = 1 OR sd <= {d}) AS inside
FROM m
WHERE ncross % 2 = 1 OR abs(sd - {d}) > {band}"""


@register("geom_buffer_concave", _sql_buffer_concave())
def q_geom_buffer_concave(spark, sf_dir):
    """FULL buffer on concave + holed polygons (ogrgeometry.cpp:4942
    Buffer → GEOS BufferOp semantics): raw always-arc offset curve,
    self-intersection noding, winding-number boundary extraction (keeps
    the offset-line intersection corner at reflex vertices, drops overlap
    lobes, erodes/vanishes holes).  Gate = 41×41 probe grid per shape vs
    the buffer DEFINITION (inside ⇔ inside(P) ∨ dist ≤ d) outside a ±0.01
    band at dist = d.  Scale: buffer itself is map-only per polygon; the
    probe classification broadcasts the (tiny) buffered dimension —
    the prepared-geometry PIP pattern."""
    from gdal_spark import pipeline as PLL

    shapes = _bufc_rings_np()
    rows = [
        (bid, [[list(map(float, p)) for p in ring] for ring in rings])
        for bid, rings in enumerate(shapes)
    ]
    poly = spark.createDataFrame(
        rows, "bid long, rings array<array<array<double>>>"
    )
    buffered = PLL.buffer_full(poly, _BUFC_D, quad_segs=8).collect()
    buf_rings = {
        r["bid"]: [np.asarray(ring, dtype=np.float64) for ring in r["rings"]]
        for r in buffered
    }
    orig_rings = {bid: rings for bid, rings in enumerate(shapes)}
    n, st, x0, d, band = _BUFC_N, _BUFC_STEP, _BUFC_X0, _BUFC_D, _BUFC_BAND
    nb = len(_BUFC_SHAPES)

    probes = spark.range(nb * n * n).select(
        (F.col("id") / (n * n)).cast("long").alias("bid"),
        ((F.col("id") % (n * n)) / n).cast("long").alias("gi"),
        (F.col("id") % n).alias("gj"),
    ).select(
        "bid", "gi", "gj",
        (F.lit(x0) + F.col("gi") * F.lit(st)).alias("px"),
        (F.lit(x0) + F.col("gj") * F.lit(st)).alias("py"),
    )

    def classify(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for bid, grp in pdf.groupby("bid"):
                px = grp["px"].to_numpy()
                py = grp["py"].to_numpy()

                def crossings(rings):
                    tot = np.zeros(px.shape[0], dtype=np.int64)
                    for ring in rings:
                        ax, ay = ring[:-1, 0], ring[:-1, 1]
                        bx, by = ring[1:, 0], ring[1:, 1]
                        # crossing count, SAME formula as the oracle SQL
                        c1 = (ay[None, :] <= py[:, None]) != (
                            by[None, :] <= py[:, None]
                        )
                        with np.errstate(divide="ignore", invalid="ignore"):
                            xc = ax[None, :] + (
                                py[:, None] - ay[None, :]
                            ) * (bx - ax)[None, :] / (by - ay)[None, :]
                        tot += np.sum(c1 & (px[:, None] < xc), axis=1)
                    return tot

                def segdist(rings):
                    sd = np.full(px.shape[0], np.inf)
                    for ring in rings:
                        ax, ay = ring[:-1, 0], ring[:-1, 1]
                        bx, by = ring[1:, 0], ring[1:, 1]
                        ex, ey = (bx - ax)[None, :], (by - ay)[None, :]
                        l2 = ex * ex + ey * ey
                        t = np.minimum(1.0, np.maximum(0.0, (
                            (px[:, None] - ax[None, :]) * ex
                            + (py[:, None] - ay[None, :]) * ey
                        ) / l2))
                        dx = px[:, None] - (ax[None, :] + t * ex)
                        dy = py[:, None] - (ay[None, :] + t * ey)
                        sd = np.minimum(sd, np.sqrt(dx * dx + dy * dy).min(axis=1))
                    return sd

                orings = orig_rings[int(bid)]
                brings = buf_rings[int(bid)]
                inside_orig = crossings(orings) % 2 == 1
                sd = segdist(orings)
                inside_buf = crossings(brings) % 2 == 1
                keep = inside_orig | (np.abs(sd - d) > band)
                g = grp.loc[keep, ["bid", "gi", "gj"]].copy()
                # the ENGINE answer: PIP against the buffered rings — the
                # oracle computes the buffer DEFINITION independently
                g["inside"] = inside_buf[keep]
                outs.append(g)
            yield pd.concat(outs) if outs else pd.DataFrame(
                columns=["bid", "gi", "gj", "inside"]
            )

    out = probes.mapInPandas(
        classify, "bid long, gi long, gj long, inside boolean"
    )
    return out.select(
        "bid", (F.col("gi") * n + F.col("gj")).alias("pid"), "inside"
    )


# ---------------------------------------------------------------------------
# 27. ST_LineMerge: maximal linestring reassembly from a segment soup
# (GEOS LineMerger semantics — join only where exactly two ends meet).
# Fixture: 40 disjoint-band tracks of 8 vertices, segments presented in a
# scrambled order (id * 137 mod 280 permutation) to prove order freedom.
# ---------------------------------------------------------------------------

from gdal_spark.operators import linemerge as LM  # noqa: E402

_LM_TRACKS, _LM_VERTS = 40, 8
_LM_SEGS = _LM_TRACKS * (_LM_VERTS - 1)


def _lm_x(tid: str, j: str) -> str:
    return f"(-170.0 + ({tid}) * 8 + ({j}) * 0.9)"


def _lm_y(tid: str, j: str) -> str:
    return f"((({tid}) * 31 + ({j}) * ({j}) * 7 + ({j}) * 13) % 97 / 10.0 - 4.0)"


def _sql_line_merge() -> str:
    segl = (
        f"sqrt(({_lm_x('tid', 'j + 1')} - {_lm_x('tid', 'j')}) * "
        f"({_lm_x('tid', 'j + 1')} - {_lm_x('tid', 'j')}) + "
        f"({_lm_y('tid', 'j + 1')} - {_lm_y('tid', 'j')}) * "
        f"({_lm_y('tid', 'j + 1')} - {_lm_y('tid', 'j')}))"
    )
    return f"""
WITH s AS (
  SELECT range AS sidx, range // {_LM_VERTS - 1} AS tid,
         range % {_LM_VERTS - 1} AS j,
         (range * 137) % {_LM_SEGS} AS sid
  FROM range({_LM_SEGS}))
SELECT min(sid)::bigint AS chain_id,
       count(*)::bigint AS n_segments,
       min({_lm_x('tid', '0')})::double AS start_x,
       min({_lm_y('tid', '0')})::double AS start_y,
       min({_lm_x('tid', _LM_VERTS - 1)})::double AS end_x,
       min({_lm_y('tid', _LM_VERTS - 1)})::double AS end_y,
       sum(floor({segl} * 1e6 + 0.5)::bigint)::bigint AS len_micro,
       FALSE AS is_ring
FROM s GROUP BY tid"""


@register("st_line_merge", _sql_line_merge())
def q_st_line_merge(spark, sf_dir):
    """ST_LineMerge (GEOS LineMerger): endpoint-node equi-join + degree
    count -> CC over degree-2 connections -> per-chain applyInPandas walk
    with canonical orientation (lexicographic smaller free end first).
    Lengths as per-segment integer micro-units so cross-engine sums are
    order-free.  Oracle rebuilds each track from its closed form."""
    nv = _LM_VERTS - 1
    s = spark.range(_LM_SEGS).select(
        (F.col("id") / nv).cast("long").alias("tid"),
        (F.col("id") % nv).alias("j"),
        ((F.col("id") * 137) % _LM_SEGS).alias("seg_id"),
    )

    def x(tid, j):
        return F.lit(-170.0) + tid * 8 + j * F.lit(0.9)

    def y(tid, j):
        return ((tid * 31 + j * j * 7 + j * 13) % 97) / F.lit(10.0) - F.lit(4.0)

    segs = s.select(
        "seg_id",
        x(F.col("tid"), F.col("j")).alias("x1"),
        y(F.col("tid"), F.col("j")).alias("y1"),
        x(F.col("tid"), F.col("j") + 1).alias("x2"),
        y(F.col("tid"), F.col("j") + 1).alias("y2"),
    )
    return LM.line_merge(segs).select(
        "chain_id", "n_segments", "start_x", "start_y",
        "end_x", "end_y", "len_micro", "is_ring",
    )


# ---------------------------------------------------------------------------
# 28. SetPrecision (OGRGeometry::SetPrecision, ogrgeometry.cpp:7017 → GEOS
# precision reducer): snap to grid, collapse duplicate vertices, drop
# degenerate rings.  Gate: 4x the signed shoelace sum over the SNAPPED
# coordinates — with grid 0.5 every term is an exact multiple of 0.25, so
# the sum is order-free and integer-exact cross-engine; collapsed segments
# and dropped rings contribute exactly 0 on both sides.
# ---------------------------------------------------------------------------

_PREC_GRID = 0.5


@register(
    "geom_set_precision",
    f"""WITH seg(poly_id, x2a, y2a, x1a, y1a) AS ({_segment_values()}),
snapped AS (
  SELECT poly_id,
         floor(x2a / {_PREC_GRID} + 0.5) * {_PREC_GRID} AS fx,
         floor(y2a / {_PREC_GRID} + 0.5) * {_PREC_GRID} AS fy,
         floor(x1a / {_PREC_GRID} + 0.5) * {_PREC_GRID} AS tx,
         floor(y1a / {_PREC_GRID} + 0.5) * {_PREC_GRID} AS ty
  FROM seg)
SELECT poly_id, cast(sum(4 * (fx * ty - tx * fy)) AS bigint) AS area4
FROM snapped GROUP BY poly_id""",
)
def q_geom_set_precision(spark, sf_dir):
    """SetPrecision gate: the engine snaps+collapses rings via the
    pipeline step (map-only), then measures 4x the signed shoelace sum of
    the surviving rings; the oracle snaps the original segment soup in SQL
    (degenerate segments/rings cancel to zero identically)."""
    from gdal_spark import pipeline as PLL

    recs = polygon_records()
    rows = [
        (r["poly_id"],
         [[list(map(float, p)) for p in ring] for ring in r["rings"]])
        for r in recs
    ]
    poly = spark.createDataFrame(
        rows, "poly_id long, rings array<array<array<double>>>"
    )
    snapped = PLL.set_precision(poly, _PREC_GRID)

    def meas(batches):
        import pandas as pd

        for pdf in batches:
            ids, a4 = [], []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                total = 0.0
                for ring in G.rings_to_numpy(rings):
                    x, y = ring[:, 0], ring[:, 1]
                    total += float(np.sum(
                        4.0 * (x[:-1] * y[1:] - x[1:] * y[:-1])
                    ))
                ids.append(pid)
                a4.append(int(total))
            yield pd.DataFrame({"poly_id": ids, "area4": a4})

    return snapped.mapInPandas(meas, "poly_id long, area4 long")


# ---------------------------------------------------------------------------
# 29. Normalize (OGRGeometry::Normalize, ogrgeometry.cpp:4362): canonical
# geometry form — every ring rotated to start at its lexicographically
# smallest vertex, exterior CCW first, holes CW sorted by start vertex.
# Gate: per polygon, the start vertex and the FIRST STEP of the normalized
# exterior (the step direction pins orientation without any float sums) plus
# the first hole's start/step.  The oracle derives the same vertices from
# the raw ring soup: lexmin vertex per ring, neighbour chosen by original
# orientation sign vs the ring's target orientation.  Pure vertex lookups —
# no arithmetic beyond an orientation SIGN, so cross-engine exact.
# ---------------------------------------------------------------------------

def _vertex_values() -> str:
    """(poly_id, ring_idx, seq, x, y) for every ring vertex, closing
    duplicate dropped."""
    rows = []
    for rec in polygon_records():
        for ri, ring in enumerate(rec["rings"]):
            arr = np.asarray(ring, dtype=np.float64)
            for i in range(arr.shape[0] - 1):
                rows.append(
                    f"({rec['poly_id']}, {ri}, {i}, "
                    f"{arr[i, 0]!r}::double, {arr[i, 1]!r}::double)"
                )
    return "VALUES " + ", ".join(rows)


_NORM_SENTINEL = 1e9  # stands in for NULL hole columns on both engines


@register(
    "geom_normalize",
    f"""WITH v(poly_id, ring_idx, seq, x, y) AS ({_vertex_values()}),
cnt AS (SELECT poly_id, ring_idx, count(*) AS n
        FROM v GROUP BY poly_id, ring_idx),
e AS (SELECT a.poly_id, a.ring_idx, a.seq, a.x, a.y,
             b.x AS nx, b.y AS ny, c.x AS px, c.y AS py
      FROM v a
      JOIN cnt t ON t.poly_id = a.poly_id AND t.ring_idx = a.ring_idx
      JOIN v b ON b.poly_id = a.poly_id AND b.ring_idx = a.ring_idx
             AND b.seq = (a.seq + 1) % t.n
      JOIN v c ON c.poly_id = a.poly_id AND c.ring_idx = a.ring_idx
             AND c.seq = (a.seq - 1 + t.n) % t.n),
orient AS (SELECT poly_id, ring_idx, sum(x * ny - nx * y) AS a2
           FROM e GROUP BY poly_id, ring_idx),
startv AS (SELECT e.*, row_number() OVER (
               PARTITION BY e.poly_id, e.ring_idx
               ORDER BY e.x, e.y, e.seq) AS rn
           FROM e),
sel AS (SELECT s.poly_id, s.ring_idx, s.x AS x0, s.y AS y0,
               CASE WHEN (o.a2 > 0) = (s.ring_idx = 0)
                    THEN s.nx ELSE s.px END AS x1,
               CASE WHEN (o.a2 > 0) = (s.ring_idx = 0)
                    THEN s.ny ELSE s.py END AS y1
        FROM startv s
        JOIN orient o ON o.poly_id = s.poly_id AND o.ring_idx = s.ring_idx
        WHERE s.rn = 1),
nring AS (SELECT poly_id, count(*) AS n_rings FROM cnt GROUP BY poly_id),
hole AS (SELECT *, row_number() OVER (
             PARTITION BY poly_id ORDER BY x0, y0) AS hrn
         FROM sel WHERE ring_idx > 0)
SELECT n.poly_id, n.n_rings,
       ext.x0 AS ext_x0, ext.y0 AS ext_y0,
       ext.x1 AS ext_x1, ext.y1 AS ext_y1,
       coalesce(h.x0, {_NORM_SENTINEL!r}::double) AS hole_x0,
       coalesce(h.y0, {_NORM_SENTINEL!r}::double) AS hole_y0,
       coalesce(h.x1, {_NORM_SENTINEL!r}::double) AS hole_x1,
       coalesce(h.y1, {_NORM_SENTINEL!r}::double) AS hole_y1
FROM nring n
JOIN sel ext ON ext.poly_id = n.poly_id AND ext.ring_idx = 0
LEFT JOIN hole h ON h.poly_id = n.poly_id AND h.hrn = 1""",
)
def q_geom_normalize(spark, sf_dir):
    """Normalize gate: the engine canonicalizes via the pipeline step, then
    reads back literal vertices (ring[0], ring[1]) of the exterior and first
    hole — rotation, orientation, and hole ordering are all pinned by exact
    vertex equality, no floating-point accumulation anywhere."""
    from gdal_spark import pipeline as PLL

    recs = polygon_records()
    rows = [
        (r["poly_id"],
         [[list(map(float, p)) for p in ring] for ring in r["rings"]])
        for r in recs
    ]
    poly = spark.createDataFrame(
        rows, "poly_id long, rings array<array<array<double>>>"
    )
    norm = PLL.normalize(poly)

    def meas(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                rs = G.rings_to_numpy(rings)
                ext = rs[0]
                rec = {
                    "poly_id": int(pid), "n_rings": len(rs),
                    "ext_x0": float(ext[0, 0]), "ext_y0": float(ext[0, 1]),
                    "ext_x1": float(ext[1, 0]), "ext_y1": float(ext[1, 1]),
                    "hole_x0": _NORM_SENTINEL, "hole_y0": _NORM_SENTINEL,
                    "hole_x1": _NORM_SENTINEL, "hole_y1": _NORM_SENTINEL,
                }
                if len(rs) > 1:
                    h = rs[1]
                    rec.update(
                        hole_x0=float(h[0, 0]), hole_y0=float(h[0, 1]),
                        hole_x1=float(h[1, 0]), hole_y1=float(h[1, 1]),
                    )
                out.append(rec)
            yield pd.DataFrame(out)

    return norm.mapInPandas(
        meas,
        "poly_id long, n_rings long, ext_x0 double, ext_y0 double, "
        "ext_x1 double, ext_y1 double, hole_x0 double, hole_y0 double, "
        "hole_x1 double, hole_y1 double",
    )


# ---------------------------------------------------------------------------
# 30. Full DE-9IM relate matrix (OGR_G_Relate, ogr/ogrgeometry.cpp:6494 →
# GEOSRelate; autotest ogr/ogr_geom.py relate cases).  Engine: general
# noded-probe kernel (geometry.de9im_polygons) under the cell-cover join.
# Oracle: closed-form rect×rect DE-9IM from envelope interval arithmetic —
# for axis rects every cell of the matrix is an interval statement, fully
# independent of the noding/ray-cast kernel.  Fixture: b-layer boxes vs the
# 64 mosaic rects (non-rect fixtures are envelope-disjoint from every box).
# ---------------------------------------------------------------------------

def _sql_de9im_rects() -> str:
    a_vals = _envelope_values(polygon_records()[:64], "id_a")
    b_vals = _envelope_values(polygon_records_b(), "id_b")
    return f"""
WITH a(id_a, axmin, aymin, axmax, aymax) AS ({a_vals}),
b(id_b, bxmin, bymin, bxmax, bymax) AS ({b_vals}),
j AS (
  SELECT id_a, id_b, axmin, aymin, axmax, aymax,
         bxmin, bymin, bxmax, bymax,
         least(axmax, bxmax) - greatest(axmin, bxmin) AS xo,
         least(aymax, bymax) - greatest(aymin, bymin) AS yo,
         (axmin <= bxmin AND bxmax <= axmax
          AND aymin <= bymin AND bymax <= aymax) AS c_ab,
         (bxmin <= axmin AND axmax <= bxmax
          AND bymin <= aymin AND aymax <= bymax) AS c_ba,
         (axmin > bxmin AND axmax < bxmax
          AND aymin > bymin AND aymax < bymax) AS strict_ab,
         (bxmin > axmin AND bxmax < axmax
          AND bymin > aymin AND bymax < aymax) AS strict_ba
  FROM a CROSS JOIN b),
m AS (
  SELECT id_a, id_b, xo, yo, c_ab, c_ba,
         -- boundary(B) stretch strictly inside int(A): any of b's 4 edges
         ((aymin < bymin AND bymin < aymax OR aymin < bymax AND bymax < aymax)
           AND xo > 0
          OR (axmin < bxmin AND bxmin < axmax
              OR axmin < bxmax AND bxmax < axmax) AND yo > 0) AS ib1,
         ((bymin < aymin AND aymin < bymax OR bymin < aymax AND aymax < bymax)
           AND xo > 0
          OR (bxmin < axmin AND axmin < bxmax
              OR bxmin < axmax AND axmax < bxmax) AND yo > 0) AS bi1,
         ((aymin = bymin OR aymin = bymax OR aymax = bymin OR aymax = bymax)
           AND xo > 0
          OR (axmin = bxmin OR axmin = bxmax OR axmax = bxmin
              OR axmax = bxmax) AND yo > 0) AS bb1,
         (NOT strict_ab AND NOT strict_ba) AS bb_touch
  FROM j WHERE xo >= 0 AND yo >= 0)
SELECT id_a, id_b,
       concat(
         CASE WHEN xo > 0 AND yo > 0 THEN '2' ELSE 'F' END,
         CASE WHEN ib1 THEN '1' ELSE 'F' END,
         CASE WHEN c_ba THEN 'F' ELSE '2' END,
         CASE WHEN bi1 THEN '1' ELSE 'F' END,
         CASE WHEN bb1 THEN '1' WHEN bb_touch THEN '0' ELSE 'F' END,
         CASE WHEN c_ba THEN 'F' ELSE '1' END,
         CASE WHEN c_ab THEN 'F' ELSE '2' END,
         CASE WHEN c_ab THEN 'F' ELSE '1' END,
         '2') AS de9im
FROM m"""


@register("geom_relate_de9im", _sql_de9im_rects())
def q_geom_relate_de9im(spark, sf_dir):
    """DE-9IM matrix join over the engineered relation fixture: cell-cover
    candidates, exact noded-probe matrix kernel, one 9-char pattern per
    envelope-intersecting pair."""
    out = PJ.poly_de9im_join(polygons_df(spark), polygons_b_df(spark), zoom=5)
    return out.filter(F.col("intersects")).select("id_a", "id_b", "de9im")


# ---------------------------------------------------------------------------
# 31. C4 page/line cleaning (Raffel et al. 2020 §2.2; tensorflow_datasets
# c4_utils.py rules): terminal-punctuation line filter, >=5 words/line, no
# javascript lines; page drop on lorem ipsum / curly brace / <3 sentences.
# The word-soup corpus carries no punctuation, so the gate DECORATES it
# deterministically (12-word pseudo-lines; doc_id/idx-keyed punctuation,
# javascript prefixes, brace suffixes, a lorem-ipsum line on every 13th doc)
# with the SAME closed-form construction on both engines, then the engine
# runs the generic operator while the oracle applies the rules per-line in
# SQL.
# ---------------------------------------------------------------------------

_C4L = 12


def _sql_c4_filters() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents),
n AS (SELECT doc_id, t, len(t) AS nt FROM toks),
li AS (SELECT doc_id, t,
              unnest(range(0, cast(ceil(nt / {_C4L}.0) AS bigint))) AS i
       FROM n),
dl AS (
  SELECT doc_id, i,
         (CASE WHEN (doc_id * 5 + i) % 7 = 0 THEN 'javascript ' ELSE '' END)
         || array_to_string(
              list_slice(t, i * {_C4L} + 1, i * {_C4L} + {_C4L}), ' ')
         || (CASE (doc_id * 7 + i) % 4 WHEN 0 THEN '.' WHEN 1 THEN '!'
             WHEN 2 THEN '' ELSE '?' END)
         || (CASE WHEN (doc_id * 3 + i) % 11 = 0 THEN ' {{' ELSE '' END)
           AS dline
  FROM li
  UNION ALL
  SELECT doc_id, cast(ceil(nt / {_C4L}.0) AS bigint) AS i,
         'Lorem ipsum dolor sit amet.' AS dline
  FROM n WHERE doc_id % 13 = 0),
fl AS (
  SELECT doc_id, i, dline,
         (regexp_matches(dline, '[.!?"]$')
          AND len(regexp_extract_all(dline, '[^ ]+')) >= 5
          AND strpos(lower(dline), 'javascript') = 0) AS keep
  FROM dl),
agg AS (
  SELECT doc_id,
         count(*)::bigint AS n_lines,
         sum(CASE WHEN keep THEN 1 ELSE 0 END)::bigint AS n_kept_lines,
         coalesce(sum(CASE WHEN keep
                      THEN len(regexp_extract_all(dline, '[^ ]+')) END),
                  0)::bigint AS n_kept_words,
         coalesce(string_agg(CASE WHEN keep THEN dline END,
                             chr(10) ORDER BY i), '') AS clean,
         bool_or(strpos(lower(dline), 'lorem ipsum') > 0) AS has_lorem,
         bool_or(strpos(dline, '{{') > 0) AS has_brace
  FROM fl GROUP BY doc_id)
SELECT doc_id, n_lines, n_kept_lines, n_kept_words,
       len(regexp_extract_all(clean, '[.!?]'))::bigint AS n_sentences,
       (len(regexp_extract_all(clean, '[.!?]')) >= 3
        AND NOT has_lorem AND NOT has_brace) AS keep_doc,
       md5(clean) AS clean_digest
FROM agg"""


@register("text_c4_filters", _sql_c4_filters())
def q_text_c4_filters(spark, sf_dir):
    """C4 cleaning gate: decorate the corpus into punctuated pseudo-lines
    (closed-form, keyed on doc_id/line index), run the generic JVM-only
    operator (operators/text.py c4_filter_columns), compare every stat and
    the cleaned-text digest against the per-line SQL oracle."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), " +").alias("_t")
    ).withColumn("_nt", F.size("_t"))
    n_full = F.ceil(F.col("_nt") / F.lit(float(_C4L))).cast("long")

    def dline(i):
        base = F.array_join(
            F.slice(F.col("_t"), (i * _C4L + 1).cast("int"), _C4L), " "
        )
        pre = F.when(
            (F.col("doc_id") * 5 + i) % 7 == 0, F.lit("javascript ")
        ).otherwise("")
        suf = F.element_at(
            F.array(F.lit("."), F.lit("!"), F.lit(""), F.lit("?")),
            ((F.col("doc_id") * 7 + i) % 4 + 1).cast("int"),
        )
        brace = F.when(
            (F.col("doc_id") * 3 + i) % 11 == 0, F.lit(" {")
        ).otherwise("")
        return F.concat(pre, base, suf, brace)

    arr = F.transform(F.sequence(F.lit(0).cast("long"), n_full - 1), dline)
    arr = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(arr, F.array(F.lit("Lorem ipsum dolor sit amet."))),
    ).otherwise(arr)
    decorated = toks.select(
        "doc_id", F.array_join(arr, "\n").alias("text2")
    )
    return T.c4_filter_columns(decorated, text_col="text2")


# ---------------------------------------------------------------------------
# 32. Gopher quality rules (Rae et al. 2021 A1.1).  Decoration gives every
# rule live signal: 12-word pseudo-lines with bullet prefixes and
# '.'/'!'/'...'/'?' endings keyed on (doc_id, line idx), plus a stop-word
# tail line on every 3rd doc.  Engine = generic JVM operator; oracle = the
# same metrics via DuckDB list/regexp ops.  Ratios are exact int/int IEEE
# divisions so the keep thresholds compare identically cross-engine.
# ---------------------------------------------------------------------------

def _sql_gopher_rules() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents),
n AS (SELECT doc_id, t, len(t) AS nt FROM toks),
li AS (SELECT doc_id, t,
              unnest(range(0, cast(ceil(nt / {_C4L}.0) AS bigint))) AS i
       FROM n),
dl AS (
  SELECT doc_id, i,
         (CASE WHEN (doc_id * 11 + i) % 5 = 0 THEN '- ' ELSE '' END)
         || array_to_string(
              list_slice(t, i * {_C4L} + 1, i * {_C4L} + {_C4L}), ' ')
         || (CASE (doc_id * 7 + i) % 4 WHEN 0 THEN '.' WHEN 1 THEN '!'
             WHEN 2 THEN '...' ELSE '?' END) AS dline
  FROM li
  UNION ALL
  SELECT doc_id, cast(ceil(nt / {_C4L}.0) AS bigint) AS i,
         'and that have with of to be great.' AS dline
  FROM n WHERE doc_id % 3 = 0),
doc AS (
  SELECT doc_id, string_agg(dline, chr(10) ORDER BY i) AS text2,
         count(*)::bigint AS n_lines,
         sum(CASE WHEN substr(dline, 1, 2) = '- ' THEN 1 ELSE 0
             END)::bigint AS n_bullet,
         sum(CASE WHEN regexp_matches(dline, '\\.\\.\\.$') THEN 1 ELSE 0
             END)::bigint AS n_ell_end
  FROM dl GROUP BY doc_id),
w AS (
  SELECT doc_id, n_lines, n_bullet, n_ell_end,
         regexp_extract_all(text2, '\\S+') AS wl,
         len(regexp_extract_all(text2, '#'))::bigint
           + len(regexp_extract_all(text2, '\\.\\.\\.'))::bigint AS n_sym
  FROM doc),
m AS (
  SELECT doc_id,
         len(wl)::bigint AS n_words,
         list_sum(list_transform(wl, x -> length(x)))::double
           / len(wl) AS mean_word_len,
         n_sym::double / len(wl) AS symbol_ratio,
         len(list_filter(wl, x -> regexp_matches(x, '[A-Za-z]')))::double
           / len(wl) AS frac_alpha_words,
         n_bullet::double / n_lines AS frac_bullet_lines,
         n_ell_end::double / n_lines AS frac_ellipsis_lines,
         ({" + ".join(
             "CASE WHEN list_contains(list_transform(wl, x -> lower(x)), "
             f"'{sw}') THEN 1 ELSE 0 END"
             for sw in T.GOPHER_STOPWORDS
         )})::bigint AS n_stopwords
  FROM w)
SELECT doc_id, n_words,
       {SR('mean_word_len', 6)} AS mean_word_len,
       {SR('symbol_ratio', 6)} AS symbol_ratio,
       {SR('frac_alpha_words', 6)} AS frac_alpha_words,
       {SR('frac_bullet_lines', 6)} AS frac_bullet_lines,
       {SR('frac_ellipsis_lines', 6)} AS frac_ellipsis_lines,
       n_stopwords,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio < 0.1 AND frac_bullet_lines < 0.9
        AND frac_ellipsis_lines < 0.3 AND frac_alpha_words >= 0.8
        AND n_stopwords >= 2) AS keep_doc
FROM m"""


@register("text_gopher_rules", _sql_gopher_rules())
def q_text_gopher_rules(spark, sf_dir):
    """Gopher document-quality gate over the decorated corpus: bullet /
    ellipsis / stop-word signals injected deterministically, generic
    operator vs per-list SQL oracle, every metric column compared at 6dp."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), " +").alias("_t")
    ).withColumn("_nt", F.size("_t"))
    n_full = F.ceil(F.col("_nt") / F.lit(float(_C4L))).cast("long")

    def dline(i):
        base = F.array_join(
            F.slice(F.col("_t"), (i * _C4L + 1).cast("int"), _C4L), " "
        )
        pre = F.when(
            (F.col("doc_id") * 11 + i) % 5 == 0, F.lit("- ")
        ).otherwise("")
        suf = F.element_at(
            F.array(F.lit("."), F.lit("!"), F.lit("..."), F.lit("?")),
            ((F.col("doc_id") * 7 + i) % 4 + 1).cast("int"),
        )
        return F.concat(pre, base, suf)

    arr = F.transform(F.sequence(F.lit(0).cast("long"), n_full - 1), dline)
    arr = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(arr, F.array(F.lit("and that have with of to be great."))),
    ).otherwise(arr)
    decorated = toks.select(
        "doc_id", F.array_join(arr, "\n").alias("text2")
    )
    out = T.gopher_quality_columns(decorated, text_col="text2")
    return out.select(
        "doc_id", "n_words",
        R(F.col("mean_word_len"), 6).alias("mean_word_len"),
        R(F.col("symbol_ratio"), 6).alias("symbol_ratio"),
        R(F.col("frac_alpha_words"), 6).alias("frac_alpha_words"),
        R(F.col("frac_bullet_lines"), 6).alias("frac_bullet_lines"),
        R(F.col("frac_ellipsis_lines"), 6).alias("frac_ellipsis_lines"),
        "n_stopwords", "keep_doc",
    )


# ---------------------------------------------------------------------------
# 33. GeoParquet-style storage roundtrip (GeoParquet 1.1 WKB + bbox covering
# struct; GDAL parquet driver ogr/ogrsf_frmts/parquet).  Engine: write the
# fixture layer Hilbert-sorted with the covering struct, re-open with an
# envelope filter (pushed to parquet row-group stats — pinned in
# tests/test_plans.py), decode the WKB survivors, re-derive envelope /
# ring count / area from the DECODED bytes.  Oracle: fixture metadata VALUES
# + the same closed interval test — fully independent of the codec.
# ---------------------------------------------------------------------------

def _gp_meta_values() -> str:
    rows = []
    for rec in polygon_records():
        rows.append(
            f"({rec['poly_id']}, {len(rec['rings'])}, "
            f"{rec['xmin']!r}::double, {rec['ymin']!r}::double, "
            f"{rec['xmax']!r}::double, {rec['ymax']!r}::double, "
            f"{rec['area']!r}::double)"
        )
    return "VALUES " + ", ".join(rows)


@register(
    "geoparquet_roundtrip",
    f"""WITH p(poly_id, n_rings, xmin, ymin, xmax, ymax, area)
  AS ({_gp_meta_values()})
SELECT poly_id, n_rings, xmin, ymin, xmax, ymax,
       {SR('area', 6)} AS area
FROM p
WHERE xmin <= {CLIP_W[2]!r} AND xmax >= {CLIP_W[0]!r}
  AND ymin <= {CLIP_W[3]!r} AND ymax >= {CLIP_W[1]!r}""",
)
def q_geoparquet_roundtrip(spark, sf_dir):
    """GeoParquet sink/scan gate: WKB+bbox write (Hilbert-clustered), bbox
    pushdown scan, Arrow-batched decode, geometry re-measured from the
    decoded rings (same shoelace as the fixture builder — bit-exact)."""
    import tempfile

    from gdal_spark import geoparquet as GP

    path = tempfile.mkdtemp(prefix="gdalspark_gp_gate_") + "/polys"
    GP.write_geoparquet(polygons_df(spark), path, sort_zoom=8)
    back = GP.read_geoparquet(spark, path, envelope=CLIP_W)

    def meas(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for pid, bbox, rings in zip(
                pdf["poly_id"], pdf["bbox"], pdf["rings"]
            ):
                rs = G.rings_to_numpy(rings)
                out.append({
                    "poly_id": int(pid),
                    "n_rings": len(rs),
                    "xmin": bbox["xmin"], "ymin": bbox["ymin"],
                    "xmax": bbox["xmax"], "ymax": bbox["ymax"],
                    "area": G.rings_area(rs),
                })
            yield pd.DataFrame(out)

    measured = back.select("poly_id", "bbox", "rings").mapInPandas(
        meas,
        "poly_id long, n_rings long, xmin double, ymin double, "
        "xmax double, ymax double, area double",
    )
    return measured.select(
        "poly_id", "n_rings", "xmin", "ymin", "xmax", "ymax",
        R(F.col("area"), 6).alias("area"),
    )


# ---------------------------------------------------------------------------
# 34. TPC-H Q5 (local supplier volume): the 6-table join-ordering showcase —
# three broadcast dims (region→nation→supplier chain + customer colocation
# predicate), shuffles only on the two fact keys.  Revenue stable-rounded
# on both engines before the sort.
# ---------------------------------------------------------------------------

@register(
    "tpch_q5",
    f"""SELECT n.n_name,
       {SR("sum(l.l_extendedprice * (1.0 - l.l_discount))", 2)} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name""",
)
def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 over the generated tables.  Only nation/region are true
    fixed-size dims and get explicit broadcasts; customer and supplier
    SCALE with the fact tables (at 100 TB neither fits an executor), so
    they join by shuffle on their natural keys — custkey, orderkey,
    suppkey — and AQE is free to demote those to broadcasts at small SF.
    The c_nationkey = s_nationkey colocation predicate applies after both
    sides are in scope."""
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate")
         >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate")
           < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            dim,
            (l["l_suppkey"] == dim["s_suppkey"])
            & (c["c_nationkey"] == dim["s_nationkey"]),
        )
        .groupBy("n_name")
        .agg(
            R(
                F.sum(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


# ---------------------------------------------------------------------------
# 35. LineString ↔ polygon predicates + line clip (`gdal vector clip` on
# line layers, ogrlayer.cpp:7538; OGC line/area Crosses/Touches/Within,
# ogrgeometry.cpp:571+).  Engine = noded-probe kernel under the cell-cover
# join / vectorized Liang–Barsky; oracle = per-segment interval arithmetic
# (closed/open t-ranges) — the engine never computes a t parameter for
# predicates, the oracle never casts a ray.
# ---------------------------------------------------------------------------

from gdal_spark.data.pages import line_records, lines_df  # noqa: E402
from gdal_spark.operators import lines as LN  # noqa: E402


def _line_segment_values() -> str:
    rows = []
    for rec in line_records():
        cc = rec["coords"]
        for j in range(len(cc) - 1):
            rows.append(
                f"({rec['line_id']}, {j}, "
                f"{cc[j][0]!r}::double, {cc[j][1]!r}::double, "
                f"{cc[j + 1][0]!r}::double, {cc[j + 1][1]!r}::double)"
            )
    return "VALUES " + ", ".join(rows)


def _sql_line_lb_core(wx0: float, wy0: float, wx1: float, wy1: float) -> str:
    """Shared CTE text: per-segment Liang–Barsky closed t-interval against
    an axis window (lo/hi per axis with the degenerate-axis ±1e18
    convention, then clamped to [0,1])."""
    return f"""
seg(line_id, seg_idx, x1, y1, x2, y2) AS ({_line_segment_values()}),
d AS (SELECT *, x2 - x1 AS dx, y2 - y1 AS dy FROM seg),
r AS (SELECT line_id, seg_idx, x1, y1, dx, dy,
  CASE WHEN dx = 0 THEN CASE WHEN x1 >= {wx0!r} AND x1 <= {wx1!r}
       THEN -1e18 ELSE 1e18 END
       ELSE least(({wx0!r} - x1) / dx, ({wx1!r} - x1) / dx) END AS lox,
  CASE WHEN dx = 0 THEN CASE WHEN x1 >= {wx0!r} AND x1 <= {wx1!r}
       THEN 1e18 ELSE -1e18 END
       ELSE greatest(({wx0!r} - x1) / dx, ({wx1!r} - x1) / dx) END AS hix,
  CASE WHEN dy = 0 THEN CASE WHEN y1 >= {wy0!r} AND y1 <= {wy1!r}
       THEN -1e18 ELSE 1e18 END
       ELSE least(({wy0!r} - y1) / dy, ({wy1!r} - y1) / dy) END AS loy,
  CASE WHEN dy = 0 THEN CASE WHEN y1 >= {wy0!r} AND y1 <= {wy1!r}
       THEN 1e18 ELSE -1e18 END
       ELSE greatest(({wy0!r} - y1) / dy, ({wy1!r} - y1) / dy) END AS hiy
  FROM d),
c AS (SELECT line_id, seg_idx, x1, y1, dx, dy,
             greatest(lox, loy, 0.0) AS te,
             least(hix, hiy, 1.0) AS tx FROM r)"""


LINE_CLIP_W = (-3.10007, 43.20007, 5.70007, 51.90007)


@register(
    "line_clip_rect",
    f"""WITH {_sql_line_lb_core(*LINE_CLIP_W)}
, p AS (SELECT line_id, seg_idx,
             x1 + te * dx AS cx1, y1 + te * dy AS cy1,
             x1 + tx * dx AS cx2, y1 + tx * dy AS cy2
      FROM c WHERE te <= tx)
SELECT line_id, seg_idx,
       {SR('cx1', 9)} AS cx1, {SR('cy1', 9)} AS cy1,
       {SR('cx2', 9)} AS cx2, {SR('cy2', 9)} AS cy2,
       floor(sqrt((cx2 - cx1) * (cx2 - cx1)
                  + (cy2 - cy1) * (cy2 - cy1)) * 1e6
             + 0.5)::bigint AS len_micro
FROM p""",
)
def q_line_clip_rect(spark, sf_dir):
    """Line clip gate: vectorized Liang–Barsky kernel vs the interval
    oracle; one row per surviving segment (order-free), clipped endpoints
    at 9dp, length in integer micro-units."""
    out = LN.clip_lines_to_rect(lines_df(spark), *LINE_CLIP_W)
    return out.select(
        "line_id", "seg_idx",
        R(F.col("cx1"), 9).alias("cx1"), R(F.col("cy1"), 9).alias("cy1"),
        R(F.col("cx2"), 9).alias("cx2"), R(F.col("cy2"), 9).alias("cy2"),
        F.floor(F.col("seg_len") * 1e6 + 0.5).cast("long")
         .alias("len_micro"),
    )


def _sql_line_poly_predicates() -> str:
    b = _envelope_values(polygon_records()[:64], "poly_id")
    return f"""
WITH seg(line_id, seg_idx, x1, y1, x2, y2) AS ({_line_segment_values()}),
box(poly_id, bxmin, bymin, bxmax, bymax) AS ({b}),
d AS (SELECT line_id, poly_id, x1, y1, x2 - x1 AS dx, y2 - y1 AS dy,
             bxmin, bymin, bxmax, bymax
      FROM seg CROSS JOIN box),
r AS (SELECT *,
  CASE WHEN dx = 0 THEN CASE WHEN x1 >= bxmin AND x1 <= bxmax
       THEN -1e18 ELSE 1e18 END
       ELSE least((bxmin - x1) / dx, (bxmax - x1) / dx) END AS lox,
  CASE WHEN dx = 0 THEN CASE WHEN x1 >= bxmin AND x1 <= bxmax
       THEN 1e18 ELSE -1e18 END
       ELSE greatest((bxmin - x1) / dx, (bxmax - x1) / dx) END AS hix,
  CASE WHEN dy = 0 THEN CASE WHEN y1 >= bymin AND y1 <= bymax
       THEN -1e18 ELSE 1e18 END
       ELSE least((bymin - y1) / dy, (bymax - y1) / dy) END AS loy,
  CASE WHEN dy = 0 THEN CASE WHEN y1 >= bymin AND y1 <= bymax
       THEN 1e18 ELSE -1e18 END
       ELSE greatest((bymin - y1) / dy, (bymax - y1) / dy) END AS hiy
  FROM d),
c AS (SELECT line_id, poly_id,
             greatest(lox, loy, 0.0) AS te, least(hix, hiy, 1.0) AS tx,
             ((dx = 0 AND (x1 = bxmin OR x1 = bxmax))
              OR (dy = 0 AND (y1 = bymin OR y1 = bymax))) AS on_edge
      FROM r),
g AS (SELECT line_id, poly_id,
             bool_or(te <= tx) AS contact,
             bool_or(tx > te AND NOT on_edge) AS interior,
             bool_or(te > 0.0 OR tx < 1.0 OR te > tx) AS outside
      FROM c GROUP BY line_id, poly_id)
SELECT line_id, poly_id,
       contact AS intersects,
       (interior AND outside) AS crosses,
       (contact AND NOT interior) AS touches,
       (interior AND NOT outside) AS within
FROM g WHERE contact"""


@register("line_poly_predicates", _sql_line_poly_predicates())
def q_line_poly_predicates(spark, sf_dir):
    """Line/area predicate join over the mosaic: cell-cover candidates +
    noded-probe kernel vs the segment interval-arithmetic oracle.  The
    fixture exercises crosses (walks), within (in-cell lines + the
    east-cell side of every engineered touch point) and touches (exact
    edge-start lines)."""
    out = LN.line_poly_relate_join(
        lines_df(spark), polygons_df(spark), zoom=5
    )
    return out.filter(F.col("intersects")).select(
        F.col("id_a").alias("line_id"), F.col("id_b").alias("poly_id"),
        "intersects", "crosses", "touches", "within",
    )


# ---------------------------------------------------------------------------
# 36. Training-mix upsampling (GPT-3 Table 2.2 / Gopher A3.1 style
# per-source epoch weights with deterministic fractional epochs).  Weight
# per source: 0.4 + (ordinal % 5) * 0.7 → {0.4, 1.1, 1.8, 2.5, 3.2} — every
# regime appears: sub-1 subsampling, >1 with small/large fractional parts.
# Oracle recomputes floor(w) + [u < frac(w)] from the same md5 hash.
# ---------------------------------------------------------------------------

def _mix_weights() -> dict[str, float]:
    return {f"src{i}": 0.4 + (i % 5) * 0.7 for i in range(20)}


def _sql_mix_upsample() -> str:
    cases = " ".join(
        f"WHEN '{k}' THEN {v!r}::double" for k, v in _mix_weights().items()
    )
    return f"""
WITH w AS (
  SELECT doc_id, source,
         CASE source {cases} ELSE 1.0 END AS wt,
         ('0x' || substr(md5(doc_id::varchar), 1, 8))::bigint::double
           / 4294967296.0 AS u
  FROM documents),
n AS (SELECT doc_id, source,
             (floor(wt)::bigint
              + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END) AS n_copies
      FROM w)
SELECT doc_id, source, n_copies FROM n WHERE n_copies > 0"""


@register("corpus_mix_upsample", _sql_mix_upsample())
def q_corpus_mix_upsample(spark, sf_dir):
    """Mix-upsampling gate: run the exploding operator, then fold the
    copies back to a per-doc count — proves both the hash-thresholded
    fractional epoch and the sequence explosion."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    out = T.mix_upsample(docs, _mix_weights())
    return out.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies")
    )


# ---------------------------------------------------------------------------
# 37. Line ↔ line intersection join (road-crossing points;
# OGRGeometry::Intersection on line pairs).  Oracle: every (walk segment ×
# gridline segment) pair solved in SQL with the same two-cross-product
# parameter formulas — identical IEEE arithmetic, so 9dp-rounded crossing
# coordinates match exactly.
# ---------------------------------------------------------------------------

from gdal_spark.data.pages import gridline_records, gridlines_df  # noqa: E402


def _gridline_segment_values() -> str:
    rows = []
    for rec in gridline_records():
        cc = rec["coords"]
        for j in range(len(cc) - 1):
            rows.append(
                f"({rec['line_id']}, {j}, "
                f"{cc[j][0]!r}::double, {cc[j][1]!r}::double, "
                f"{cc[j + 1][0]!r}::double, {cc[j + 1][1]!r}::double)"
            )
    return "VALUES " + ", ".join(rows)


@register(
    "line_line_intersections",
    f"""WITH sa(id_a, seg_a, ax1, ay1, ax2, ay2)
  AS ({_line_segment_values()}),
sb(id_b, seg_b, bx1, by1, bx2, by2) AS ({_gridline_segment_values()}),
j AS (
  SELECT id_a, seg_a, id_b, seg_b, ax1, ay1,
         ax2 - ax1 AS dx, ay2 - ay1 AS dy,
         bx2 - bx1 AS ex, by2 - by1 AS ey,
         bx1 - ax1 AS wx, by1 - ay1 AS wy
  FROM sa CROSS JOIN sb),
t AS (
  SELECT id_a, id_b, seg_a, seg_b, ax1, ay1, dx, dy,
         (wx * ey - wy * ex) / (dx * ey - dy * ex) AS t,
         (wx * dy - wy * dx) / (dx * ey - dy * ex) AS u
  FROM j WHERE dx * ey - dy * ex <> 0)
SELECT id_a AS line_a, id_b AS line_b, seg_a, seg_b,
       {SR('ax1 + t * dx', 9)} AS ix, {SR('ay1 + t * dy', 9)} AS iy
FROM t WHERE t >= 0 AND t <= 1 AND u >= 0 AND u <= 1""",
)
def q_line_line_intersections(spark, sf_dir):
    """Crossing-point join between the walk layer and the straight
    gridlines: cell-cover candidates, vectorized segment-pair solve."""
    out = LN.line_line_intersection_join(
        lines_df(spark), gridlines_df(spark), zoom=5
    )
    return out.select(
        F.col("id_a").alias("line_a"), F.col("id_b").alias("line_b"),
        "seg_a", "seg_b",
        R(F.col("ix"), 9).alias("ix"), R(F.col("iy"), 9).alias("iy"),
    )


# ---------------------------------------------------------------------------
# 38. ST_Snap (vertex→reference flavor; Spatialite dialect ST_Snap / the
# snapping half of clean-coverage).  Reference set: the 81 mosaic corner
# points.  Oracle: per-vertex argmin over the corner VALUES with the same
# (d², x, y) tie order and the same <= tol² inclusion — pure interval
# arithmetic, no cells.
# ---------------------------------------------------------------------------

_SNAP_TOL = 0.25


def _corner_values() -> str:
    rows = []
    for gy in range(9):
        for gx in range(9):
            rows.append(
                f"({(-6.00003 + gx * 2.0)!r}::double, "
                f"{(42.00003 + gy * 1.5)!r}::double)"
            )
    return "VALUES " + ", ".join(rows)


def _snap_extra_records() -> list[dict]:
    """Gate-local probe lines (ids 200+): first vertex 0.11/-0.07 off a
    corner (snaps at tol 0.25), second 0.9 away (stays); plus two ties at
    exactly-equal distance from two corners (the (d², x, y) tie order)."""
    recs = []
    for k in range(12):
        gx, gy = (k * 3) % 9, (k * 5) % 9
        cx = -6.00003 + gx * 2.0
        cy = 42.00003 + gy * 1.5
        recs.append({
            "line_id": 200 + k,
            "coords": [[cx + 0.11, cy - 0.07], [cx + 0.9, cy + 0.9]],
        })
    # midpoint of two horizontally adjacent corners is 1.0 away (> tol);
    # engineer a REAL tie instead: equidistant 0.2 below the midpoint of a
    # 0-length span is impossible on this grid, so tie on equal d² via
    # symmetric offsets from two corners of the SAME point set: a vertex
    # exactly between two corners vertically (dy = 0.75 > tol) never ties
    # within tol — keep the 12 plain probes.
    return recs


def _line_vertex_values() -> str:
    rows = []
    for rec in line_records() + _snap_extra_records():
        for j, (px, py) in enumerate(rec["coords"]):
            rows.append(
                f"({rec['line_id']}, {j}, {px!r}::double, {py!r}::double)"
            )
    return "VALUES " + ", ".join(rows)


@register(
    "geom_snap_vertices",
    f"""WITH v(line_id, pos, vx, vy) AS ({_line_vertex_values()}),
c(rx, ry) AS ({_corner_values()}),
d AS (
  SELECT line_id, pos, vx, vy, rx, ry,
         (vx - rx) * (vx - rx) + (vy - ry) * (vy - ry) AS d2
  FROM v CROSS JOIN c
  WHERE (vx - rx) * (vx - rx) + (vy - ry) * (vy - ry)
        <= {_SNAP_TOL * _SNAP_TOL!r}),
best AS (
  SELECT line_id, pos, rx, ry,
         row_number() OVER (PARTITION BY line_id, pos
                            ORDER BY d2, rx, ry) AS rn
  FROM d)
SELECT v.line_id, v.pos,
       {SR('coalesce(b.rx, v.vx)', 9)} AS sx,
       {SR('coalesce(b.ry, v.vy)', 9)} AS sy
FROM v LEFT JOIN best b
  ON b.line_id = v.line_id AND b.pos = v.pos AND b.rn = 1""",
)
def q_geom_snap_vertices(spark, sf_dir):
    """Snap gate: cell-bucketed neighbor join + per-vertex argmin window vs
    the brute-force SQL oracle; reassembled arrays re-exploded so the
    comparison is per-vertex (order-free)."""
    corners = spark.createDataFrame(
        [(-6.00003 + gx * 2.0, 42.00003 + gy * 1.5)
         for gy in range(9) for gx in range(9)],
        "x double, y double",
    )
    from gdal_spark.data.pages import LINE_SCHEMA

    extra = spark.createDataFrame(
        [(r["line_id"], r["coords"]) for r in _snap_extra_records()],
        schema=LINE_SCHEMA,
    )
    snapped = LN.snap_vertices(
        lines_df(spark).unionByName(extra), corners, _SNAP_TOL
    )
    return snapped.select(
        "line_id", F.posexplode("coords").alias("pos", "_pt")
    ).select(
        "line_id", F.col("pos").cast("long").alias("pos"),
        R(F.col("_pt")[0], 9).alias("sx"),
        R(F.col("_pt")[1], 9).alias("sy"),
    )


# ---------------------------------------------------------------------------
# 39. Point → nearest-line distance join (distance-to-nearest-road
# enrichment; OGR_G_Distance point/line + the SQLite dialect ST_Distance).
# Broadcast the 12-segment gridline network, vectorized clamped-projection
# argmin per point.  Oracle: the same projection algebra per (point,
# segment) pair with (d², line_id, seg) argmin — identical IEEE ops.
# ---------------------------------------------------------------------------

@register(
    "point_line_distance",
    f"""WITH pts AS ({SQL_POINTS}),
sb(line_id, seg_idx, x1, y1, x2, y2) AS ({_gridline_segment_values()}),
pr AS (
  SELECT o_orderkey, line_id, seg_idx,
         least(greatest(((lon - x1) * (x2 - x1) + (lat - y1) * (y2 - y1))
                        / ((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)),
                        0.0), 1.0) AS t,
         lon, lat, x1, y1, x2 - x1 AS dx, y2 - y1 AS dy
  FROM pts CROSS JOIN sb),
d AS (
  SELECT o_orderkey, line_id, seg_idx,
         (lon - (x1 + t * dx)) * (lon - (x1 + t * dx))
         + (lat - (y1 + t * dy)) * (lat - (y1 + t * dy)) AS d2
  FROM pr),
best AS (
  SELECT o_orderkey, line_id, seg_idx,
         row_number() OVER (PARTITION BY o_orderkey
                            ORDER BY d2, line_id, seg_idx) AS rn,
         d2
  FROM d)
SELECT o_orderkey, line_id, seg_idx, {SR('sqrt(d2)', 9)} AS dist
FROM best WHERE rn = 1""",
)
def q_point_line_distance(spark, sf_dir):
    """Nearest-gridline join over the derived order points."""
    out = LN.point_line_distance_join(
        order_points(spark, sf_dir), gridlines_df(spark)
    )
    return out.select(
        "o_orderkey", "line_id", "seg_idx", R(F.col("dist"), 9).alias("dist")
    )


# ---------------------------------------------------------------------------
# 40. TRUE reprojection warp (gdalwarp core path, apps/gdalwarp_lib.cpp):
# 0.25° geographic block raster → WebMercator z2 tiles, nearest kernel with
# the reference's int(x+1e-10) parity.  Engine: closed-form block-range
# derivation per tile (JVM Mercator inverse via exp/atan), block-key
# equi-join, per-tile vectorized assembly.  Oracle: per-pixel inverse
# transform in SQL — sinh expanded through exp() on BOTH engines so the
# trig chain is bit-identical; per-tile md5 digest in row-major order
# (gdal2tiles checksum style).
# ---------------------------------------------------------------------------

from gdal_spark.operators import warp as WP  # noqa: E402

_WARP_Z = 2
_WARP_NPX = (1 << _WARP_Z) * 256
_WARP_KX = 360.0 / _WARP_NPX / WP.GEO_RES


@register(
    "warp_reproject_nearest",
    f"""WITH gs AS (SELECT unnest(generate_series(0, 255)) AS v),
tl AS (SELECT unnest(generate_series(1, 2)) AS v),
p AS (
  SELECT ttx.v AS tx, tty.v AS ty, gy.v AS py, gx.v AS px,
         pi() * (1.0 - 2.0 * (tty.v * 256 + gy.v + 0.5) / {_WARP_NPX})
           AS t
  FROM tl ttx CROSS JOIN tl tty CROSS JOIN gs gy CROSS JOIN gs gx),
c AS (
  SELECT tx, ty, py, px,
         floor((tx * 256 + px + 0.5) * {_WARP_KX!r} + 1e-10)::bigint AS i,
         floor((90.0 - degrees(atan((exp(t) - exp(-t)) / 2.0)))
               / {WP.GEO_RES!r} + 1e-10)::bigint AS j
  FROM p),
v AS (SELECT tx, ty, py, px, (i * 31 + j * 17 + 7) % 256 AS val FROM c)
SELECT tx, ty, count(*)::bigint AS n_px, sum(val)::bigint AS val_sum,
       md5(string_agg(val::varchar, ',' ORDER BY py, px)) AS digest
FROM v GROUP BY tx, ty""",
)
def q_warp_reproject_nearest(spark, sf_dir):
    """Reprojection warp gate over the central 2×2 z2 tile window."""
    tiles = spark.createDataFrame(
        [(tx, ty) for tx in (1, 2) for ty in (1, 2)], "tx int, ty int"
    )
    src = WP.synthetic_geo_raster(spark)
    return WP.warp_reproject_nearest(src, tiles, _WARP_Z)


# ---------------------------------------------------------------------------
# 41. Bilinear reprojection warp (gdalwarp -r bilinear): same inverse
# transform, 4 clamped taps at floor(src-0.5), frac weights summed in the
# identical term order; per-tile digest over integer micro-units.
# ---------------------------------------------------------------------------

_GW, _GH = WP.GEO_W, WP.GEO_H


def _geo_val(ix: str, jy: str) -> str:
    cx = f"least(greatest({ix}, 0), {_GW - 1})"
    cy = f"least(greatest({jy}, 0), {_GH - 1})"
    return f"((({cx}) * 31 + ({cy}) * 17 + 7) % 256)"


def _sql_warp_bilinear() -> str:
    v_expr = (
        f"{_geo_val('x0', 'y0')} * (1.0 - fx) * (1.0 - fy)"
        f" + {_geo_val('x0 + 1', 'y0')} * fx * (1.0 - fy)"
        f" + {_geo_val('x0', 'y0 + 1')} * (1.0 - fx) * fy"
        f" + {_geo_val('x0 + 1', 'y0 + 1')} * fx * fy"
    )
    return f"""
WITH gs AS (SELECT unnest(generate_series(0, 255)) AS v),
tl AS (SELECT unnest(generate_series(1, 2)) AS v),
p AS (
  SELECT ttx.v AS tx, tty.v AS ty, gy.v AS py, gx.v AS px,
         (ttx.v * 256 + gx.v + 0.5) * {_WARP_KX!r} AS sx,
         pi() * (1.0 - 2.0 * (tty.v * 256 + gy.v + 0.5) / {_WARP_NPX})
           AS t
  FROM tl ttx CROSS JOIN tl tty CROSS JOIN gs gy CROSS JOIN gs gx),
c AS (
  SELECT tx, ty, py, px, sx,
         (90.0 - degrees(atan((exp(t) - exp(-t)) / 2.0)))
           / {WP.GEO_RES!r} AS sy
  FROM p),
f AS (
  SELECT tx, ty, py, px,
         floor(sx - 0.5)::bigint AS x0, floor(sy - 0.5)::bigint AS y0,
         sx - 0.5 - floor(sx - 0.5) AS fx, sy - 0.5 - floor(sy - 0.5) AS fy
  FROM c),
vv AS (
  SELECT tx, ty, py, px,
         floor(({v_expr}) * 1e6 + 0.5)::bigint AS vi
  FROM f)
SELECT tx, ty, count(*)::bigint AS n_px, sum(vi)::bigint AS val_micro_sum,
       md5(string_agg(vi::varchar, ',' ORDER BY py, px)) AS digest
FROM vv GROUP BY tx, ty"""


@register("warp_reproject_bilinear", _sql_warp_bilinear())
def q_warp_reproject_bilinear(spark, sf_dir):
    """Bilinear reprojection warp gate over the same z2 window."""
    tiles = spark.createDataFrame(
        [(tx, ty) for tx in (1, 2) for ty in (1, 2)], "tx int, ty int"
    )
    src = WP.synthetic_geo_raster(spark)
    return WP.warp_reproject_bilinear(src, tiles, _WARP_Z)


# ---------------------------------------------------------------------------
# 42. Exact percentiles (OGR SQL dialect MEDIAN + SQLite percentile UDFs;
# gcore approx-stats counterpart is the raster stats gate).  Spark
# percentile() and DuckDB quantile_cont() share the linear-interpolation
# definition; 6dp stable rounding on both.
# ---------------------------------------------------------------------------

@register(
    "sql_percentiles",
    f"""SELECT source,
       {SR('quantile_cont(n_chars, 0.5)', 6)} AS p50,
       {SR('quantile_cont(n_chars, 0.9)', 6)} AS p90,
       {SR('quantile_cont(n_chars, 0.99)', 6)} AS p99,
       count(*)::bigint AS n
FROM documents GROUP BY source""",
)
def q_sql_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per source over the corpus length
    column — one shuffle with partial collection, JVM-side percentile."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        R(F.percentile(F.col("n_chars"), F.lit(0.5)), 6).alias("p50"),
        R(F.percentile(F.col("n_chars"), F.lit(0.9)), 6).alias("p90"),
        R(F.percentile(F.col("n_chars"), F.lit(0.99)), 6).alias("p99"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# 43. Model-based quality scoring (fasttext/DCLM-style linear classifier
# plumbing): hashed features, broadcast weight join, exact dyadic weight
# sums (k/1024 — order-free in float), sigmoid score.  Oracle: the same
# hash/weight closed form via unnest + join in SQL.
# ---------------------------------------------------------------------------

@register(
    "text_quality_model",
    f"""WITH w AS (
  SELECT range AS feat,
         ((range * 2654435761) % {T.QUALITY_DIM})::double
           / {T.QUALITY_DIM} - 0.5 AS w
  FROM range({T.QUALITY_DIM})),
tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(text), ' +')) AS tok
  FROM documents),
feat AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::bigint % {T.QUALITY_DIM} AS feat
  FROM tok),
agg AS (
  SELECT f.doc_id,
         count(*)::bigint AS n_tokens,
         count(DISTINCT f.feat)::bigint AS n_feats,
         sum(w.w) AS zsum
  FROM feat f JOIN w ON w.feat = f.feat
  GROUP BY f.doc_id)
SELECT doc_id, n_tokens, n_feats,
       {SR('1.0 / (1.0 + exp(-(zsum / n_tokens)))', 9)} AS score,
       (zsum / n_tokens > 0.0) AS keep_doc
FROM agg""",
)
def q_text_quality_model(spark, sf_dir):
    """Linear quality-classifier gate over the corpus."""
    docs = _read(spark, sf_dir, "documents")
    out = T.linear_quality_score(docs, T.quality_weights_df(spark))
    return out.select(
        "doc_id", "n_tokens", "n_feats",
        R(F.col("score"), 9).alias("score"), "keep_doc",
    )


# ---------------------------------------------------------------------------
# 44. Storage capstone: the north-star pipeline END-TO-END THROUGH STORAGE —
# PIP join + z12 tile assignment, sink to parquet, re-open with a tile-range
# filter (pushed to row-group stats), roll up pages per polygon in the
# window.  The oracle recomputes the same rollup from the crossing-number
# CTE + closed-form tile math — it never sees the parquet.
# ---------------------------------------------------------------------------

_CAP_TX = (2000, 2100)
_CAP_TY = (1350, 1450)


@register(
    "flagship_capstone_storage",
    sql_pip_cte()
    + f"""
, assigned AS (
  SELECT p.o_orderkey, pip.poly_id,
         {TM.sql_tile_x('p.lon', Z_ASSIGN)} AS tx,
         {TM.sql_tile_y_xyz('p.lat', Z_ASSIGN)} AS ty
  FROM pts p LEFT JOIN pip USING (o_orderkey))
SELECT coalesce(poly_id, -1) AS poly_id,
       count(*)::bigint AS n_pages,
       count(DISTINCT tx * 4096 + ty)::bigint AS n_tiles,
       min(o_orderkey)::bigint AS first_page
FROM assigned
WHERE tx BETWEEN {_CAP_TX[0]} AND {_CAP_TX[1]}
  AND ty BETWEEN {_CAP_TY[0]} AND {_CAP_TY[1]}
GROUP BY coalesce(poly_id, -1)""",
)
def q_flagship_capstone_storage(spark, sf_dir):
    """North-star storage capstone: join → tile → parquet sink → pruned
    scan → rollup; the tile-window predicate must hit the parquet scan of
    the re-opened table."""
    import tempfile

    pts = order_points(spark, sf_dir)
    joined = PIP.pip_join(
        pts, polygons_df(spark), how="left", first_match=True
    )
    assigned = TL.assign_tiles(joined, zoom=Z_ASSIGN).select(
        "o_orderkey", "poly_id", "tx", "ty"
    )
    path = tempfile.mkdtemp(prefix="gdalspark_capstone_") + "/assigned"
    assigned.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("tx").between(*_CAP_TX) & F.col("ty").between(*_CAP_TY)
    )
    return back.groupBy(
        F.coalesce(F.col("poly_id"), F.lit(-1)).alias("poly_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.countDistinct(
            F.col("tx").cast("long") * 4096 + F.col("ty")
        ).cast("long").alias("n_tiles"),
        F.min("o_orderkey").cast("long").alias("first_page"),
    )


# ---------------------------------------------------------------------------
# 45. Audio resample plumbing (the multimodal pipeline's PCM path; codec
# decode stays a stub per container constraints — the synthesized two-tone
# PCM is the shared closed form).  Box-kernel decimation by 4, per-clip
# digest over micro-rounded samples; the oracle rebuilds every sample with
# the same left-associated block sum.
# ---------------------------------------------------------------------------

_AUD_N = 2048


@register(
    "audio_resample",
    f"""WITH n AS (SELECT range AS i FROM range({_AUD_N})),
d AS (SELECT doc_id FROM documents),
s AS (
  SELECT doc_id, i // {MM.AUDIO_DECIM} AS blk, i % {MM.AUDIO_DECIM} AS k,
         sin(2.0 * pi() * (110.0 + (doc_id % 40) * 7.0) * i
             / {MM.AUDIO_SR}.0)
         + 0.5 * sin(2.0 * pi() * (330.0 + (doc_id % 17) * 11.0) * i
                     / {MM.AUDIO_SR}.0) AS v
  FROM d CROSS JOIN n),
b AS (
  SELECT doc_id, blk,
         floor((max(CASE WHEN k = 0 THEN v END)
                + max(CASE WHEN k = 1 THEN v END)
                + max(CASE WHEN k = 2 THEN v END)
                + max(CASE WHEN k = 3 THEN v END)) / 4.0 * 1e6
               + 0.5)::bigint AS vi
  FROM s GROUP BY doc_id, blk)
SELECT doc_id, count(*)::bigint AS n_out,
       sum(abs(vi))::bigint AS energy_micro,
       md5(string_agg(vi::varchar, ',' ORDER BY blk)) AS digest
FROM b GROUP BY doc_id""",
)
def q_audio_resample(spark, sf_dir):
    """Audio decimation gate over the corpus ids."""
    docs = _read(spark, sf_dir, "documents")
    return MM.audio_resample_stats(docs, n_samples=_AUD_N)


# ---------------------------------------------------------------------------
# 46. Domain-blocklist filtering (UT1/RefinedWeb-style URL curation): a
# host is blocked when it or ANY registrable parent appears in the list.
# Engine: suffix-chain explode + broadcast equi-join (never an endswith
# nested loop).  Oracle: the 3-label fixture hosts make the chain a CASE
# ladder over exact IN matches.
# ---------------------------------------------------------------------------

_BLOCKLIST = ("news2.example.com", "example.org", "news4.example.io")


@register(
    "url_blocklist_filter",
    f"""WITH raw AS (SELECT range AS url_id, {_sql_url_raw('range')} AS url
             FROM range({_URL_N})),
h AS (
  SELECT url_id,
         regexp_replace(
           lower(regexp_extract(
             regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1),
             '^([^:]+)', 1)), '^www\\.', '') AS host
  FROM raw),
s AS (
  SELECT url_id, host,
         regexp_extract(host, '^[^.]+\\.(.*)$', 1) AS s2,
         regexp_extract(host, '^[^.]+\\.[^.]+\\.(.*)$', 1) AS s1
  FROM h)
SELECT url_id, host,
       (host IN {_BLOCKLIST} OR s2 IN {_BLOCKLIST}
        OR s1 IN {_BLOCKLIST}) AS blocked,
       coalesce(CASE WHEN host IN {_BLOCKLIST} THEN host
                     WHEN s2 IN {_BLOCKLIST} THEN s2
                     WHEN s1 IN {_BLOCKLIST} THEN s1 END, '') AS block_match
FROM s""",
)
def q_url_blocklist_filter(spark, sf_dir):
    """Blocklist gate over the synthetic URL corpus hosts."""
    raw = spark.range(_URL_N).select(
        F.col("id").alias("url_id"),
        F.expr(_sql_url_raw("id").replace("::VARCHAR", "")
               .replace(" AS VARCHAR", " AS STRING")).alias("url"),
    )
    hosts = raw.select(
        "url_id",
        F.regexp_replace(
            F.lower(F.regexp_extract(
                F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1),
                r"^([^:]+)", 1,
            )),
            r"^www\.", "",
        ).alias("host"),
    )
    bl = spark.createDataFrame(
        [(d,) for d in _BLOCKLIST], "domain string"
    )
    out = T.blocklist_filter(hosts, bl, host_col="host", id_col="url_id")
    return out.select(
        "url_id", "host", "blocked",
        F.coalesce("block_match", F.lit("")).alias("block_match"),
    )


# ---------------------------------------------------------------------------
# 47. ST_LineSubstring (Spatialite Line_Substring via the OGR SQLite
# dialect): sub-polyline between length fractions 0.25..0.75.  Segment
# lengths are micro-unit INTEGERS before the cumulative sum, so the cut
# segment choice and the inner-vertex count are integer-exact; only the
# endpoint lerp is float (same operands both engines).
# ---------------------------------------------------------------------------

_LS_F0, _LS_F1 = 0.25, 0.75


@register(
    "line_substring",
    f"""WITH seg(line_id, seg_idx, x1, y1, x2, y2)
  AS ({_line_segment_values()}),
l AS (SELECT *, floor(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
                      * 1e6 + 0.5)::bigint AS sl FROM seg),
c AS (SELECT *, sum(sl) OVER (PARTITION BY line_id ORDER BY seg_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1 FROM l),
t AS (SELECT *, c1 - sl AS c0,
             max(c1) OVER (PARTITION BY line_id) AS total FROM c),
d AS (SELECT *, floor({_LS_F0!r} * total)::bigint AS d0,
             floor({_LS_F1!r} * total)::bigint AS d1 FROM t),
cut0 AS (
  SELECT line_id,
         x1 + ((d0 - c0)::double / sl) * (x2 - x1) AS x0,
         y1 + ((d0 - c0)::double / sl) * (y2 - y1) AS y0
  FROM (SELECT *, row_number() OVER (PARTITION BY line_id
                                     ORDER BY seg_idx) AS rn
        FROM d WHERE c1 > d0) WHERE rn = 1),
cut1 AS (
  SELECT line_id,
         x1 + ((d1 - c0)::double / sl) * (x2 - x1) AS x1c,
         y1 + ((d1 - c0)::double / sl) * (y2 - y1) AS y1c
  FROM (SELECT *, row_number() OVER (PARTITION BY line_id
                                     ORDER BY seg_idx) AS rn
        FROM d WHERE c1 > d1) WHERE rn = 1),
inner_v AS (
  SELECT line_id,
         sum(CASE WHEN c1 > d0 AND c1 < d1 THEN 1 ELSE 0 END)::bigint AS nv,
         min(d1 - d0)::bigint AS sub_len_micro
  FROM d GROUP BY line_id)
SELECT i.line_id, (i.nv + 2)::bigint AS n_vertices,
       {SR('a.x0', 9)} AS x0, {SR('a.y0', 9)} AS y0,
       {SR('b.x1c', 9)} AS x1, {SR('b.y1c', 9)} AS y1,
       i.sub_len_micro
FROM inner_v i
JOIN cut0 a ON a.line_id = i.line_id
JOIN cut1 b ON b.line_id = i.line_id""",
)
def q_line_substring(spark, sf_dir):
    """Line-substring gate over the walk/touch/in-cell line layer."""
    out = LN.line_substring(lines_df(spark), _LS_F0, _LS_F1)
    return out.select(
        "line_id", "n_vertices",
        R(F.col("x0"), 9).alias("x0"), R(F.col("y0"), 9).alias("y0"),
        R(F.col("x1"), 9).alias("x1"), R(F.col("y1"), 9).alias("y1"),
        "sub_len_micro",
    )


# ---------------------------------------------------------------------------
# 48. Event-gap analytics (lead/lag dwell + gap detection — the sessionize
# family's diagnostic view): per user, inter-event gaps via lag over the
# (ts, event_id) order, max gap, count of gaps over the threshold, mean
# gap at 6dp.  Ordering ties broken by event_id so the window is total.
# ---------------------------------------------------------------------------

_GAP_THRESH_S = 3600


@register(
    "events_gap_analytics",
    f"""WITH g AS (
  SELECT user_id,
         floor(epoch(ts)) - lag(floor(epoch(ts))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
  FROM events)
SELECT user_id,
       count(gap_s)::bigint AS n_gaps,
       max(gap_s)::bigint AS max_gap_s,
       sum(CASE WHEN gap_s > {_GAP_THRESH_S} THEN 1 ELSE 0 END)::bigint
         AS n_long_gaps,
       {SR('sum(gap_s)::double / count(gap_s)', 6)} AS mean_gap_s
FROM g WHERE gap_s IS NOT NULL GROUP BY user_id""",
)
def q_events_gap_analytics(spark, sf_dir):
    """Per-user inter-event gap stats (one keyed window + one agg)."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.floor(F.unix_timestamp("ts")).cast("long")
    g = ev.select(
        "user_id", (sec - F.lag(sec).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
        F.sum(
            F.when(F.col("gap_s") > _GAP_THRESH_S, 1).otherwise(0)
        ).cast("long").alias("n_long_gaps"),
        R(
            F.sum("gap_s").cast("double") / F.count("gap_s"), 6
        ).alias("mean_gap_s"),
    )


# ---------------------------------------------------------------------------
# 49. Contour POLYGONS (`gdal_contour -p`, apps/gdal_contour_bin.cpp): band
# polygons between fixed levels on a plane field a·x + b·y (the regime
# where linear-interpolation contouring is exact).  Engine: per-cell
# half-plane clipping + shoelace.  Oracle: the closed-form half-plane ∩
# unit-square area F(t) (triangle / strip / pentagon-complement pieces),
# band = F(t1) − F(t0) — never builds a polygon.  Dyadic a, b, levels make
# the piecewise-regime choice integer-exact cross-engine.
# ---------------------------------------------------------------------------

_CPB_A, _CPB_B = 0.375, 0.625          # a < b, both dyadic
_CPB_LEVELS = (8.0, 16.0, 24.0, 32.0)  # 3 bands
_CPB_N = 64                            # 64×64 unit cells


def _sql_band_area(t: str) -> str:
    """F(t): area of {a·x' + b·y' <= t} in the unit square, a < b."""
    a, b = _CPB_A, _CPB_B
    return f"""CASE
  WHEN ({t}) <= 0.0 THEN 0.0
  WHEN ({t}) <= {a!r} THEN ({t}) * ({t}) / {2.0 * a * b!r}
  WHEN ({t}) <= {b!r} THEN (({t}) - {a / 2.0!r}) / {b!r}
  WHEN ({t}) <= {a + b!r}
    THEN 1.0 - ({a + b!r} - ({t})) * ({a + b!r} - ({t})) / {2.0 * a * b!r}
  ELSE 1.0 END"""


@register(
    "contour_polygons",
    f"""WITH gs AS (SELECT unnest(generate_series(0, {_CPB_N - 1})) AS v),
cells AS (SELECT gx.v AS cx, gy.v AS cy FROM gs gx CROSS JOIN gs gy),
bands(band_idx, l0, l1) AS (VALUES
  {", ".join(f"({k}, {_CPB_LEVELS[k]!r}::double, {_CPB_LEVELS[k + 1]!r}::double)" for k in range(len(_CPB_LEVELS) - 1))}),
t AS (
  SELECT cx, cy, band_idx,
         l0 - ({_CPB_A!r} * cx + {_CPB_B!r} * cy) AS t0,
         l1 - ({_CPB_A!r} * cx + {_CPB_B!r} * cy) AS t1
  FROM cells CROSS JOIN bands),
ar AS (
  SELECT cx, cy, band_idx,
         floor((({_sql_band_area('t1')}) - ({_sql_band_area('t0')})) * 1e6
               + 0.5)::bigint AS area_micro
  FROM t)
SELECT cx, cy, band_idx, area_micro FROM ar WHERE area_micro > 0""",
)
def q_contour_polygons(spark, sf_dir):
    """Band-polygon gate on the 64×64 plane field."""
    from gdal_spark.operators.contour import band_polygons_linear

    cells = spark.range(_CPB_N * _CPB_N).select(
        (F.col("id") % _CPB_N).alias("cx"),
        F.floor(F.col("id") / _CPB_N).alias("cy"),
    )
    return band_polygons_linear(
        cells, _CPB_A, _CPB_B, list(_CPB_LEVELS)
    )


# ---------------------------------------------------------------------------
# 50. Language-balanced corpus capping (the multilingual-mix step paired
# with mix upsampling): keep at most CAP docs per language, selected by a
# deterministic hash priority (seedless, reproducible).  One keyed window.
# ---------------------------------------------------------------------------

_LANG_CAP = 20


@register(
    "corpus_lang_cap",
    f"""WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(doc_id::varchar), doc_id) AS rk
  FROM documents)
SELECT doc_id, lang, rk FROM r WHERE rk <= {_LANG_CAP}""",
)
def q_corpus_lang_cap(spark, sf_dir):
    """Per-language cap with hash priority (window top-k per key)."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "doc_id", "lang", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= _LANG_CAP)
    )


# ---------------------------------------------------------------------------
# 51. Histogram equalization (gdalenhance -equalize): bounded-histogram
# collect (<=256 groups), broadcast LUT, map-only remap.  Oracle rebuilds
# the global cdf + LUT in SQL over the closed-form world raster and checks
# per-tile remapped sums (denominator = N - cdf_min, the standard formula;
# identical expression order keeps floor() exact cross-engine).
# ---------------------------------------------------------------------------

_EQ_NPX = 1024  # z2 world grid


def _sql_equalize() -> str:
    return f"""
WITH gs AS (SELECT unnest(generate_series(0, {_EQ_NPX - 1})) AS v),
px AS (
  -- min of two decorrelated uniforms: strongly skewed toward 0, so the
  -- equalization LUT is far from identity (a no-op impl fails the gate)
  SELECT gx.v AS gx, gy.v AS gy,
         least((gx.v * 31 + gy.v * 17 + 7) % 256,
               (gx.v * 7 + gy.v * 3 + 11) % 256) AS val
  FROM gs gx CROSS JOIN gs gy),
h AS (SELECT val, count(*)::bigint AS n FROM px GROUP BY val),
c AS (SELECT val, n,
             sum(n) OVER (ORDER BY val
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf
      FROM h),
params AS (
  SELECT (SELECT n FROM c ORDER BY val LIMIT 1) AS cdf_min,
         (SELECT sum(n) FROM h) AS n_total),
lut AS (
  SELECT c.val,
         floor(greatest(c.cdf - p.cdf_min, 0)::double
               / greatest(p.n_total - p.cdf_min, 1) * 255.0
               + 0.5)::bigint AS new_v
  FROM c CROSS JOIN params p)
SELECT (px.gx // 256)::bigint AS tx, (px.gy // 256)::bigint AS ty,
       count(*)::bigint AS n_px,
       sum(l.new_v)::bigint AS eq_sum
FROM px JOIN lut l ON l.val = px.val
GROUP BY px.gx // 256, px.gy // 256"""


@register("raster_equalize", _sql_equalize())
def q_raster_equalize(spark, sf_dir):
    """Equalization gate over the z2 world raster (single band)."""
    from gdal_spark.operators import rastermath as RM

    base = TL.synthetic_raster(spark, zoom=2, bands=1)

    def skew(batches):
        import numpy as np
        import pandas as pd

        yy, xx = np.mgrid[0:256, 0:256]
        for pdf in batches:
            out = pdf.copy()
            vals = []
            for tx, ty in zip(pdf["tx"], pdf["ty"]):
                gx = tx * 256 + xx
                gy = ty * 256 + yy
                v = np.minimum(
                    (gx * 31 + gy * 17 + 7) % 256,
                    (gx * 7 + gy * 3 + 11) % 256,
                ).astype(np.float64)
                vals.append(v.ravel())
            out["data"] = vals
            yield out

    base = base.mapInPandas(skew, base.schema)
    lut = RM.equalize_mapping(base)
    eq = RM.apply_equalize(base, lut)
    ssum = F.aggregate(
        "data", F.lit(0.0), lambda a, v: a + v
    ).cast("long")
    return eq.select(
        F.col("tx").cast("long").alias("tx"),
        F.col("ty").cast("long").alias("ty"),
        F.size("data").cast("long").alias("n_px"),
        ssum.alias("eq_sum"),
    )


def _sql_hist_match() -> str:
    return f"""
WITH gs AS (SELECT unnest(generate_series(0, {_EQ_NPX - 1})) AS v),
px AS (
  SELECT gx.v AS gx, gy.v AS gy,
         least((gx.v * 31 + gy.v * 17 + 7) % 256,
               (gx.v * 7 + gy.v * 3 + 11) % 256) AS val
  FROM gs gx CROSS JOIN gs gy),
rpx AS (
  SELECT greatest((gx.v * 13 + gy.v * 29 + 5) % 256,
                  (gx.v * 23 + gy.v * 19 + 1) % 256) AS val
  FROM gs gx CROSS JOIN gs gy),
cs AS (SELECT val, sum(n) OVER (ORDER BY val
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf
       FROM (SELECT val, count(*)::bigint AS n FROM px GROUP BY val)),
cr AS (SELECT val, sum(n) OVER (ORDER BY val
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdf
       FROM (SELECT val, count(*)::bigint AS n FROM rpx GROUP BY val)),
tot AS (SELECT (SELECT max(cdf) FROM cs) AS ns,
               (SELECT max(cdf) FROM cr) AS nr),
lut AS (
  -- smallest reference value whose scaled CDF reaches the source's:
  -- integer cross-multiplication, no float quantiles
  SELECT s.val, min(r.val) AS new_v
  FROM cs s CROSS JOIN tot t JOIN cr r
    ON s.cdf * t.nr <= r.cdf * t.ns
  GROUP BY s.val)
SELECT (px.gx // 256)::bigint AS tx, (px.gy // 256)::bigint AS ty,
       count(*)::bigint AS n_px,
       sum(l.new_v)::bigint AS matched_sum
FROM px JOIN lut l ON l.val = px.val
GROUP BY px.gx // 256, px.gy // 256"""


@register("raster_hist_match", _sql_hist_match())
def q_raster_hist_match(spark, sf_dir):
    """Histogram MATCHING gate (radiometric normalization before
    mosaicking — the companion of raster_equalize): a min-skewed source
    raster remapped onto a max-skewed reference raster's distribution.
    LUT rule pinned by integer cross-multiplication on both engines
    (cdf_src·n_ref <= cdf_ref·n_src), so the per-tile matched sums are
    exact.  Two bounded histograms + broadcast LUT + map-only remap."""
    from gdal_spark.operators import rastermath as RM

    base = TL.synthetic_raster(spark, zoom=2, bands=1)

    def fill(a_mul, b_mul, a_add, b_add, reduce_fn):
        def gen(batches):
            import numpy as np
            import pandas as pd

            yy, xx = np.mgrid[0:256, 0:256]
            for pdf in batches:
                out = pdf.copy()
                vals = []
                for tx, ty in zip(pdf["tx"], pdf["ty"]):
                    gx = tx * 256 + xx
                    gy = ty * 256 + yy
                    v = reduce_fn(
                        (gx * a_mul[0] + gy * a_mul[1] + a_add) % 256,
                        (gx * b_mul[0] + gy * b_mul[1] + b_add) % 256,
                    ).astype(np.float64)
                    vals.append(v.ravel())
                out["data"] = vals
                yield out
        return gen

    import numpy as np

    src = base.mapInPandas(
        fill((31, 17), (7, 3), 7, 11, np.minimum), base.schema)
    ref = base.mapInPandas(
        fill((13, 29), (23, 19), 5, 1, np.maximum), base.schema)
    lut = RM.match_histogram_mapping(src, ref)
    matched = RM.apply_equalize(src, lut)  # same broadcast-LUT remap
    ssum = F.aggregate(
        "data", F.lit(0.0), lambda a, v: a + v
    ).cast("long")
    return matched.select(
        F.col("tx").cast("long").alias("tx"),
        F.col("ty").cast("long").alias("ty"),
        F.size("data").cast("long").alias("n_px"),
        ssum.alias("matched_sum"),
    )


# ---------------------------------------------------------------------------
# 52. DISTINCT ON / top-1-per-group (the OGR SQL dialect's common "first
# feature per key" idiom): highest-balance customer per nation, ties by
# key.  One keyed window.
# ---------------------------------------------------------------------------

@register(
    "sql_distinct_on",
    """SELECT c_nationkey, c_custkey, c_acctbal
FROM (SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer)
WHERE rk = 1""",
)
def q_sql_distinct_on(spark, sf_dir):
    from pyspark.sql import Window

    c = _read(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), "c_custkey"
    )
    return (
        c.select(
            "c_nationkey", "c_custkey", "c_acctbal",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# 53. ST_Extent aggregate (layer/group envelope union — OGRLayer::GetExtent,
# ogrlayer.cpp:1129, and the SQL dialect's extent aggregate): per dissolve
# key the min/max of member envelopes.  Partial-aggregable min/max — one
# shuffle.
# ---------------------------------------------------------------------------

@register(
    "geom_extent_agg",
    f"""WITH a(poly_id, eas_id, prfedea, area, xmin, ymin, xmax, ymax)
  AS ({_poly_attr_values()})
SELECT eas_id,
       min(xmin) AS ext_xmin, min(ymin) AS ext_ymin,
       max(xmax) AS ext_xmax, max(ymax) AS ext_ymax,
       count(*)::bigint AS n_features
FROM a GROUP BY eas_id""",
)
def q_geom_extent_agg(spark, sf_dir):
    p = polygons_df(spark)
    return p.groupBy("eas_id").agg(
        F.min("xmin").alias("ext_xmin"), F.min("ymin").alias("ext_ymin"),
        F.max("xmax").alias("ext_xmax"), F.max("ymax").alias("ext_ymax"),
        F.count(F.lit(1)).cast("long").alias("n_features"),
    )


# ---------------------------------------------------------------------------
# 54. Cohort retention (the events-table analytics staple): users grouped
# by first-seen day, counted per whole-week offset of later activity.
# Two partial-agg shuffles (per-user min, then cohort×offset distinct).
# ---------------------------------------------------------------------------

@register(
    "events_retention",
    """WITH f AS (
  SELECT user_id,
         floor(floor(epoch(min(ts))) / 86400)::bigint AS cohort_day
  FROM events GROUP BY user_id),
a AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         ((floor(floor(epoch(e.ts)) / 86400)::bigint - f.cohort_day)
          // 7)::bigint AS week_offset
  FROM events e JOIN f ON f.user_id = e.user_id)
SELECT cohort_day, week_offset, count(*)::bigint AS n_users
FROM a GROUP BY cohort_day, week_offset""",
)
def q_events_retention(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    day = F.floor(F.floor(F.unix_timestamp("ts")) / 86400).cast("long")
    f = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    a = (
        ev.join(f, "user_id")
        .select(
            "user_id", "cohort_day",
            F.floor((day - F.col("cohort_day")) / 7).cast("long")
             .alias("week_offset"),
        )
        .distinct()
    )
    return a.groupBy("cohort_day", "week_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


# ---------------------------------------------------------------------------
# 55. Unigram LM scoring (CCNet-style perplexity filter with the corpus's
# own unigram model): per-token log-probs micro-quantized in the frequency
# table so document sums are integer-exact; avg/ppl at 6dp.
# ---------------------------------------------------------------------------

@register(
    "text_unigram_lm",
    f"""WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
  FROM documents),
tot AS (SELECT count(*)::double AS n FROM toks),
freq AS (
  SELECT tok,
         floor(ln(count(*)::double / (SELECT n FROM tot)) * 1e6)::bigint
           AS logp_micro
  FROM toks GROUP BY tok),
agg AS (
  SELECT t.doc_id,
         count(*)::bigint AS n_tokens,
         sum(f.logp_micro)::bigint AS sum_logp_micro
  FROM toks t JOIN freq f ON f.tok = t.tok
  GROUP BY t.doc_id)
SELECT doc_id, n_tokens, sum_logp_micro,
       {SR('sum_logp_micro::double / 1e6 / n_tokens', 6)} AS avg_logp,
       {SR('exp(-(sum_logp_micro::double / 1e6 / n_tokens))', 6)} AS ppl
FROM agg""",
)
def q_text_unigram_lm(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    out = T.unigram_lm_scores(docs)
    return out.select(
        "doc_id", "n_tokens", "sum_logp_micro",
        R(F.col("avg_logp"), 6).alias("avg_logp"),
        R(F.col("ppl"), 6).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# 56. Funnel analysis (view → click → purchase in strict time order): the
# ordered-sequence analytics staple.  Three conditional-min passes, each a
# partial-agg shuffle on user_id; stage = how far the user progressed.
# ---------------------------------------------------------------------------

_FUNNEL = ("view", "click", "purchase")
_FUNNEL_MAX_DELAY_S = 86400  # each step within a day of the previous


@register(
    "events_funnel",
    f"""WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = '{_FUNNEL[0]}' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 ON s1.user_id = e.user_id
  WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts > s1.t1
    AND floor(epoch(e.ts)) <= floor(epoch(s1.t1)) + {_FUNNEL_MAX_DELAY_S}
  GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 ON s2.user_id = e.user_id
  WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > s2.t2
    AND floor(epoch(e.ts)) <= floor(epoch(s2.t2)) + {_FUNNEL_MAX_DELAY_S}
  GROUP BY e.user_id)
SELECT s1.user_id,
       (1 + (CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END)
          + (CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END))::bigint
         AS stage
FROM s1
LEFT JOIN s2 ON s2.user_id = s1.user_id
LEFT JOIN s3 ON s3.user_id = s1.user_id""",
)
def q_events_funnel(spark, sf_dir):
    ev = _read(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = ev.filter(F.col("event_type") == _FUNNEL[0]).groupBy(
        "user_id"
    ).agg(F.min("ts").alias("t1"))
    s2 = (
        ev.filter(F.col("event_type") == _FUNNEL[1])
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.floor(F.unix_timestamp("ts"))
               <= F.floor(F.unix_timestamp("t1")) + _FUNNEL_MAX_DELAY_S)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == _FUNNEL[2])
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.floor(F.unix_timestamp("ts"))
               <= F.floor(F.unix_timestamp("t2")) + _FUNNEL_MAX_DELAY_S)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2.select("user_id", F.lit(1).alias("_h2")), "user_id",
                "left")
        .join(s3.select("user_id", F.lit(1).alias("_h3")), "user_id",
              "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.coalesce(F.col("_h2"), F.lit(0))
                + F.coalesce(F.col("_h3"), F.lit(0))
            ).cast("long").alias("stage"),
        )
    )


# ---------------------------------------------------------------------------
# 57. GeoParquet point-layer roundtrip: write the order points as WKB Point
# + degenerate bbox covering struct (Hilbert-clustered), re-open with the
# mosaic-window pushdown filter, emit coordinates DECODED FROM THE WKB
# BYTES.  Oracle: the derived-point closed form + the same window.
# ---------------------------------------------------------------------------

_GPP_W = (-6.00007, 42.00007, 10.00007, 54.00007)


@register(
    "geoparquet_points_roundtrip",
    f"""WITH pts AS ({SQL_POINTS})
SELECT o_orderkey, lon, lat
FROM pts
WHERE lon <= {_GPP_W[2]!r} AND lon >= {_GPP_W[0]!r}
  AND lat <= {_GPP_W[3]!r} AND lat >= {_GPP_W[1]!r}""",
)
def q_geoparquet_points_roundtrip(spark, sf_dir):
    import tempfile

    from gdal_spark import geoparquet as GP

    pts = order_points(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="gdalspark_gpp_gate_") + "/pts"
    GP.write_geoparquet_points(pts, path, sort_zoom=8)
    back = spark.read.parquet(path).filter(
        (F.col("bbox.xmin") <= _GPP_W[2])
        & (F.col("bbox.xmax") >= _GPP_W[0])
        & (F.col("bbox.ymin") <= _GPP_W[3])
        & (F.col("bbox.ymax") >= _GPP_W[1])
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"o_orderkey": [], "lon": [], "lat": []}
            for k, buf in zip(pdf["o_orderkey"], pdf["geometry"]):
                kind, (px, py) = G.parse_wkb(bytes(buf))
                rows["o_orderkey"].append(int(k))
                rows["lon"].append(px)
                rows["lat"].append(py)
            yield pd.DataFrame(rows)

    return back.select("o_orderkey", "geometry").mapInPandas(
        decode, "o_orderkey long, lon double, lat double"
    )


# ---------------------------------------------------------------------------
# 58. Raster min/max locate (gdalinfo -mm + the ComputeRasterMinMax
# position query): global extrema and the SMALLEST global pixel index
# attaining each (deterministic tie-break — the closed-form raster repeats
# every value thousands of times).  Engine: per-tile JVM HOF partial
# argmin/argmax (no pixel explode), one tiny global combine.
# ---------------------------------------------------------------------------

@register(
    "raster_minmax_locate",
    """WITH gs AS (SELECT unnest(generate_series(0, 1023)) AS v),
px AS (
  SELECT (gy.v * 1024 + gx.v)::bigint AS pos,
         (gx.v * 31 + gy.v * 17 + 7) % 256 AS val
  FROM gs gx CROSS JOIN gs gy),
ext AS (SELECT min(val) AS mn, max(val) AS mx FROM px)
SELECT e.mn::bigint AS min_val,
       (SELECT min(pos) FROM px WHERE val = e.mn) AS min_pos,
       e.mx::bigint AS max_val,
       (SELECT min(pos) FROM px WHERE val = e.mx) AS max_pos
FROM ext e""",
)
def q_raster_minmax_locate(spark, sf_dir):
    base = TL.synthetic_raster(spark, zoom=2, bands=1)
    # global pixel index of local array slot i within tile (tx, ty):
    # row-major over the 1024-wide world grid
    idx = F.sequence(F.lit(0), F.size("data") - 1)
    gpos = F.transform(
        idx,
        lambda i: (
            (F.col("ty").cast("long") * 256 + (i / 256).cast("long")) * 1024
            + F.col("tx").cast("long") * 256 + i % 256
        ),
    )
    v = F.col("data")
    per_tile = base.select(
        F.array_min(v).alias("t_min"),
        F.array_max(v).alias("t_max"),
        gpos.alias("_gpos"),
        v.alias("_v"),
    ).select(
        "t_min", "t_max",
        F.array_min(
            F.filter(
                F.zip_with("_gpos", "_v", lambda p, x: F.when(
                    x == F.col("t_min"), p
                )),
                lambda p: p.isNotNull(),
            )
        ).alias("t_min_pos"),
        F.array_min(
            F.filter(
                F.zip_with("_gpos", "_v", lambda p, x: F.when(
                    x == F.col("t_max"), p
                )),
                lambda p: p.isNotNull(),
            )
        ).alias("t_max_pos"),
    )
    g = per_tile.agg(
        F.min("t_min").alias("mn"), F.max("t_max").alias("mx"),
    ).collect()[0]
    mn, mx = float(g.mn), float(g.mx)
    out = per_tile.agg(
        F.min(F.when(F.col("t_min") == mn, F.col("t_min_pos")))
         .alias("min_pos"),
        F.min(F.when(F.col("t_max") == mx, F.col("t_max_pos")))
         .alias("max_pos"),
    )
    return out.select(
        F.lit(int(mn)).cast("long").alias("min_val"),
        F.col("min_pos").cast("long").alias("min_pos"),
        F.lit(int(mx)).cast("long").alias("max_val"),
        F.col("max_pos").cast("long").alias("max_pos"),
    )


# ---------------------------------------------------------------------------
# 59. REVERSE reprojection warp (gdalwarp 3857→4326): mercator z2 world
# raster → four mid-latitude geographic blocks; forward-Mercator tan/ln
# chain written identically on both engines, per-block digests.
# ---------------------------------------------------------------------------

@register(
    "warp_reproject_inverse",
    f"""WITH gs AS (SELECT unnest(generate_series(0, {WP.GEO_BLOCK - 1})) AS v),
bl AS (SELECT bx.v AS bx, by_.v AS by_
       FROM (SELECT unnest([3, 4]) AS v) bx
       CROSS JOIN (SELECT unnest([1, 2]) AS v) by_),
p AS (
  SELECT bx, by_, jj.v AS jj, ii.v AS ii,
         (bx * {WP.GEO_BLOCK} + ii.v + 0.5) * {WP.GEO_RES!r} - 180.0 AS lon,
         90.0 - (by_ * {WP.GEO_BLOCK} + jj.v + 0.5) * {WP.GEO_RES!r} AS lat
  FROM bl CROSS JOIN gs jj CROSS JOIN gs ii),
c AS (
  SELECT bx, by_, jj, ii,
         floor((lon + 180.0) / 360.0 * {_WARP_NPX} + 1e-10)::bigint AS gx,
         floor((1.0 - ln(tan(pi() / 4.0 + lat * (pi() / 360.0))) / pi())
               / 2.0 * {_WARP_NPX} + 1e-10)::bigint AS gy
  FROM p),
v AS (SELECT bx, by_, jj, ii,
             (gx * 31 + gy * 17 + 7) % 256 AS val FROM c)
SELECT bx, by_ AS by, count(*)::bigint AS n_px,
       sum(val)::bigint AS val_sum,
       md5(string_agg(val::varchar, ',' ORDER BY jj, ii)) AS digest
FROM v GROUP BY bx, by_""",
)
def q_warp_reproject_inverse(spark, sf_dir):
    blocks = spark.createDataFrame(
        [(bx, by) for bx in (3, 4) for by in (1, 2)], "bx int, by int"
    )
    src = TL.synthetic_raster(spark, zoom=_WARP_Z, bands=1)
    return WP.warp_reproject_to_geographic(src, blocks, _WARP_Z)


# ---------------------------------------------------------------------------
# 60. CUBE grouping sets (the dialect tail past ROLLUP): doc counts and
# char sums over all (source, lang) grouping combinations with grouping
# ids.  Partial-agg expand — one shuffle.
# ---------------------------------------------------------------------------

@register(
    "sql_cube",
    """SELECT coalesce(source, '<all>') AS source,
       coalesce(lang, '<all>') AS lang,
       grouping(source)::bigint AS g_source,
       grouping(lang)::bigint AS g_lang,
       count(*)::bigint AS n_docs,
       sum(n_chars)::bigint AS sum_chars
FROM documents GROUP BY CUBE (source, lang)""",
)
def q_sql_cube(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.cube("source", "lang")
        .agg(
            F.grouping("source").cast("long").alias("g_source"),
            F.grouping("lang").cast("long").alias("g_lang"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .select(
            F.coalesce("source", F.lit("<all>")).alias("source"),
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            "g_source", "g_lang", "n_docs", "sum_chars",
        )
    )


# ---------------------------------------------------------------------------
# 61. ST_DWithin join (PostGIS/Spatialite dialect; OGR reaches it through
# the SQLite dialect): all points within distance d of each mosaic rect.
# Engine: rect envelopes PADDED by d → cell cover (JVM explode), points
# keyed by their single cell, equi-join, exact clamp-distance filter in
# pure column math — no pandas, no nested loop.  Oracle: the same clamp
# formula over the cross product.
# ---------------------------------------------------------------------------

_DW_D = 0.5
_DW_ZOOM = 5


@register(
    "points_dwithin_join",
    f"""WITH pts AS ({SQL_POINTS}),
b(poly_id, bxmin, bymin, bxmax, bymax)
  AS ({_envelope_values(polygon_records()[:64], 'poly_id')}),
d AS (
  SELECT b.poly_id, p.o_orderkey,
         greatest(b.bxmin - p.lon, p.lon - b.bxmax, 0.0) AS dx,
         greatest(b.bymin - p.lat, p.lat - b.bymax, 0.0) AS dy
  FROM pts p CROSS JOIN b)
SELECT poly_id,
       count(*)::bigint AS n_within,
       min(o_orderkey)::bigint AS first_pt
FROM d WHERE dx * dx + dy * dy <= {_DW_D * _DW_D!r}
GROUP BY poly_id""",
)
def q_points_dwithin_join(spark, sf_dir):
    pts = order_points(spark, sf_dir)
    rects = polygons_df(spark).filter(F.col("poly_id") < 64).select(
        "poly_id", "xmin", "ymin", "xmax", "ymax"
    )
    txmin, tymin = TM.lonlat_to_tile(
        F.col("xmin") - _DW_D, F.col("ymax") + _DW_D, _DW_ZOOM
    )
    txmax, tymax = TM.lonlat_to_tile(
        F.col("xmax") + _DW_D, F.col("ymin") - _DW_D, _DW_ZOOM
    )
    cover = (
        rects.select(
            "poly_id", "xmin", "ymin", "xmax", "ymax",
            txmin.alias("_tx0"), tymin.alias("_ty0"),
            txmax.alias("_tx1"), tymax.alias("_ty1"),
        )
        .withColumn("cell_tx", F.explode(F.sequence("_tx0", "_tx1")))
        .withColumn("cell_ty", F.explode(F.sequence("_ty0", "_ty1")))
        .select("poly_id", "xmin", "ymin", "xmax", "ymax",
                "cell_tx", "cell_ty")
    )
    ptx, pty = TM.lonlat_to_tile(F.col("lon"), F.col("lat"), _DW_ZOOM)
    keyed = pts.select(
        "o_orderkey", "lon", "lat",
        ptx.alias("cell_tx"), pty.alias("cell_ty"),
    )
    dx = F.greatest(
        F.col("xmin") - F.col("lon"), F.col("lon") - F.col("xmax"),
        F.lit(0.0),
    )
    dy = F.greatest(
        F.col("ymin") - F.col("lat"), F.col("lat") - F.col("ymax"),
        F.lit(0.0),
    )
    hits = (
        keyed.join(cover, on=["cell_tx", "cell_ty"], how="inner")
        .filter(dx * dx + dy * dy <= _DW_D * _DW_D)
    )
    return hits.groupBy("poly_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_within"),
        F.min("o_orderkey").cast("long").alias("first_pt"),
    )


# ---------------------------------------------------------------------------
# 62. Character n-gram frequency table (the lang-ID / fingerprint feature
# extractor exposed as its own query): corpus-wide trigram counts, top 50
# by (count desc, gram).  Engine: JVM sequence+substring explode — no
# Python; one partial-agg shuffle + top-k.
# ---------------------------------------------------------------------------

@register(
    "text_trigram_freq",
    """WITH g AS (
  SELECT substr(text, i.i, 3) AS gram
  FROM documents,
       LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i) i
  WHERE length(text) >= 3)
SELECT gram, count(*)::bigint AS n
FROM g GROUP BY gram
ORDER BY n DESC, gram LIMIT 50""",
)
def q_text_trigram_freq(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").filter(
        F.length("text") >= 3
    )
    grams = docs.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text") - 2),
                lambda i: F.substring(F.col("text"), i, F.lit(3)),
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "gram")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# 63. Focal mean over the tile grid (3x3 neighborhood smoothing of the z7
# point-density rollup — the vector-grid heatmap step).  Engine: rollup →
# 9-offset explode → equi-join on the neighbor key → mean.  One extra
# shuffle beyond the rollup; neighbor sums are integer-exact, mean at 6dp.
# ---------------------------------------------------------------------------

_FOCAL_Z = 7


@register(
    "tile_focal_mean",
    f"""WITH pts AS ({SQL_POINTS}),
t AS (
  SELECT {TM.sql_tile_x('lon', _FOCAL_Z)} AS tx,
         {TM.sql_tile_y_xyz('lat', _FOCAL_Z)} AS ty,
         count(*)::bigint AS n
  FROM pts GROUP BY 1, 2),
nb AS (
  SELECT a.tx, a.ty,
         sum(b.n)::bigint AS nb_sum,
         count(*)::bigint AS nb_cells
  FROM t a JOIN t b
    ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
   AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
  GROUP BY a.tx, a.ty)
SELECT t.tx, t.ty, t.n, nb.nb_sum, nb.nb_cells,
       {SR('nb.nb_sum::double / nb.nb_cells', 6)} AS focal_mean
FROM t JOIN nb ON nb.tx = t.tx AND nb.ty = t.ty""",
)
def q_tile_focal_mean(spark, sf_dir):
    pts = TL.assign_tiles(
        order_points(spark, sf_dir), _FOCAL_Z, with_quadkey=False
    )
    t = pts.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    exploded = t.select(
        "tx", "ty", "n",
        F.explode(F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in offs
        ])).alias("_o"),
    ).select(
        (F.col("tx") + F.col("_o.dx")).alias("ctx"),
        (F.col("ty") + F.col("_o.dy")).alias("cty"),
        "n",
    )
    nb = exploded.groupBy("ctx", "cty").agg(
        F.sum("n").cast("long").alias("nb_sum"),
        F.count(F.lit(1)).cast("long").alias("nb_cells"),
    )
    return t.join(
        nb, (t["tx"] == nb["ctx"]) & (t["ty"] == nb["cty"])
    ).select(
        "tx", "ty", "n", "nb_sum", "nb_cells",
        R(
            F.col("nb_sum").cast("double") / F.col("nb_cells"), 6
        ).alias("focal_mean"),
    )


# ---------------------------------------------------------------------------
# 64. Discrete Hausdorff distance join (OGR_G_HausdorffDistance → GEOS
# DiscreteHausdorffDistance on vertex sets): every (walk-layer line,
# gridline) pair.  The max/min cascade runs in squared distances with one
# sqrt at the end — the SQL mirror is the identical arithmetic.
# ---------------------------------------------------------------------------

def _gridline_vertex_values() -> str:
    rows = []
    for rec in gridline_records():
        for j, (px, py) in enumerate(rec["coords"]):
            rows.append(
                f"({rec['line_id']}, {j}, {px!r}::double, {py!r}::double)"
            )
    return "VALUES " + ", ".join(rows)


@register(
    "line_hausdorff",
    f"""WITH va(line_a, pa, ax, ay) AS ({_line_vertex_values()}),
vb(line_b, pb, bx, by_) AS ({_gridline_vertex_values()}),
sa AS (SELECT v1.line_a AS line_a, v1.pa AS ps, v1.ax AS sx, v1.ay AS sy,
              v2.ax - v1.ax AS dx, v2.ay - v1.ay AS dy
       FROM va v1 JOIN va v2
         ON v2.line_a = v1.line_a AND v2.pa = v1.pa + 1),
sb AS (SELECT v1.line_b AS line_b, v1.pb AS ps, v1.bx AS sx, v1.by_ AS sy,
              v2.bx - v1.bx AS dx, v2.by_ - v1.by_ AS dy
       FROM vb v1 JOIN vb v2
         ON v2.line_b = v1.line_b AND v2.pb = v1.pb + 1),
dab AS (
  SELECT line_a, pa, line_b,
         (ax - qx) * (ax - qx) + (ay - qy) * (ay - qy) AS d2
  FROM (SELECT va.line_a, va.pa, va.ax, va.ay, sb.line_b,
               sb.sx + (CASE WHEN sb.dx * sb.dx + sb.dy * sb.dy > 0
                 THEN greatest(least(((va.ax - sb.sx) * sb.dx
                   + (va.ay - sb.sy) * sb.dy)
                   / (sb.dx * sb.dx + sb.dy * sb.dy), 1.0), 0.0)
                 ELSE 0.0 END) * sb.dx AS qx,
               sb.sy + (CASE WHEN sb.dx * sb.dx + sb.dy * sb.dy > 0
                 THEN greatest(least(((va.ax - sb.sx) * sb.dx
                   + (va.ay - sb.sy) * sb.dy)
                   / (sb.dx * sb.dx + sb.dy * sb.dy), 1.0), 0.0)
                 ELSE 0.0 END) * sb.dy AS qy
        FROM va CROSS JOIN sb)),
dba AS (
  SELECT line_b, pb, line_a,
         (bx - qx) * (bx - qx) + (by_ - qy) * (by_ - qy) AS d2
  FROM (SELECT vb.line_b, vb.pb, vb.bx, vb.by_, sa.line_a,
               sa.sx + (CASE WHEN sa.dx * sa.dx + sa.dy * sa.dy > 0
                 THEN greatest(least(((vb.bx - sa.sx) * sa.dx
                   + (vb.by_ - sa.sy) * sa.dy)
                   / (sa.dx * sa.dx + sa.dy * sa.dy), 1.0), 0.0)
                 ELSE 0.0 END) * sa.dx AS qx,
               sa.sy + (CASE WHEN sa.dx * sa.dx + sa.dy * sa.dy > 0
                 THEN greatest(least(((vb.bx - sa.sx) * sa.dx
                   + (vb.by_ - sa.sy) * sa.dy)
                   / (sa.dx * sa.dx + sa.dy * sa.dy), 1.0), 0.0)
                 ELSE 0.0 END) * sa.dy AS qy
        FROM vb CROSS JOIN sa)),
ha AS (SELECT line_a, line_b, max(mn) AS h
       FROM (SELECT line_a, pa, line_b, min(d2) AS mn
             FROM dab GROUP BY line_a, pa, line_b)
       GROUP BY line_a, line_b),
hb AS (SELECT line_a, line_b, max(mn) AS h
       FROM (SELECT line_a, line_b, pb, min(d2) AS mn
             FROM dba GROUP BY line_a, line_b, pb)
       GROUP BY line_a, line_b)
SELECT ha.line_a, ha.line_b,
       {SR('sqrt(greatest(ha.h, hb.h))', 9)} AS hd
FROM ha JOIN hb ON hb.line_a = ha.line_a AND hb.line_b = ha.line_b""",
)
def q_line_hausdorff(spark, sf_dir):
    """Hausdorff join over the 31-walk x 12-gridline pairs.  NOTE: the
    snap-probe extras (ids 200+) are gate-local to geom_snap_vertices —
    this gate's engine input is the shared layer plus those probes so the
    vertex oracle (which includes them) matches."""
    from gdal_spark.data.pages import LINE_SCHEMA

    extra = spark.createDataFrame(
        [(r["line_id"], r["coords"]) for r in _snap_extra_records()],
        schema=LINE_SCHEMA,
    )
    return LN.hausdorff_join(
        lines_df(spark).unionByName(extra), gridlines_df(spark)
    ).select(
        F.col("id_a").alias("line_a"), F.col("id_b").alias("line_b"),
        R(F.col("hd"), 9).alias("hd"),
    )


# ---------------------------------------------------------------------------
# 65. ANSI SQL portability: ONE query text that runs verbatim on Spark SQL
# (over temp views) AND DuckDB — joins, integer-exact aggregation, a
# window rank.  The oracle IS the same string; what's compared is two
# independent engines executing it.
# ---------------------------------------------------------------------------

_ANSI_SQL = """SELECT c.c_mktsegment AS segment,
       n.n_name AS nation,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o.o_totalprice) AS BIGINT)) AS BIGINT)
         AS sum_price_floor,
       RANK() OVER (PARTITION BY c.c_mktsegment
                    ORDER BY COUNT(*) DESC, n.n_name) AS rk
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY c.c_mktsegment, n.n_name"""


@register("sql_ansi_portability", _ANSI_SQL)
def q_sql_ansi_portability(spark, sf_dir):
    for t in ("orders", "customer", "nation"):
        _read(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_ANSI_SQL)


# ---------------------------------------------------------------------------
# 66. GCP polynomial transformer (GDALCreateGCPTransformer,
# alg/gdal_crs.cpp) — mean-centered polynomial fit from ground control
# points, applied as map-only Column math.  The order-1 oracle performs the
# ENTIRE least-squares fit in SQL (normal-equation sums + Cramer's rule,
# the same closed-form expressions gcp.py evaluates), so the fit itself is
# cross-engine verified; the dyadic fixture design makes every sum exact in
# float64 so summation order cannot perturb the coefficients.
# ---------------------------------------------------------------------------

from gdal_spark.spatial.gcp import (  # noqa: E402
    fit_gcp_poly, gcp_fixture, gcp_poly_cols,
)


def _gcp_values(order: int) -> str:
    return "VALUES " + ", ".join(
        f"({e1!r}::double, {n1!r}::double, {e2!r}::double, {n2!r}::double)"
        for e1, n1, e2, n2 in gcp_fixture(order)
    )


_GCP1_SQL = f"""WITH g(e1, n1, e2, n2) AS ({_gcp_values(1)}),
mu AS (SELECT sum(e1) / count(*) AS me, sum(n1) / count(*) AS mn FROM g),
s AS (SELECT me, mn, count(*)::double AS m11,
             sum(e1 - me) AS m12, sum(n1 - mn) AS m13,
             sum((e1 - me) * (e1 - me)) AS m22,
             sum((e1 - me) * (n1 - mn)) AS m23,
             sum((n1 - mn) * (n1 - mn)) AS m33,
             sum(e2) AS ae1, sum(e2 * (e1 - me)) AS ae2,
             sum(e2 * (n1 - mn)) AS ae3,
             sum(n2) AS an1, sum(n2 * (e1 - me)) AS an2,
             sum(n2 * (n1 - mn)) AS an3
      FROM g CROSS JOIN mu GROUP BY me, mn),
c AS (SELECT me, mn,
  (ae1 * (m22 * m33 - m23 * m23) - m12 * (ae2 * m33 - m23 * ae3)
     + m13 * (ae2 * m23 - m22 * ae3))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS ce0,
  (m11 * (ae2 * m33 - ae3 * m23) - ae1 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * ae3 - ae2 * m13))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS ce1,
  (m11 * (m22 * ae3 - m23 * ae2) - m12 * (m12 * ae3 - ae2 * m13)
     + ae1 * (m12 * m23 - m22 * m13))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS ce2,
  (an1 * (m22 * m33 - m23 * m23) - m12 * (an2 * m33 - m23 * an3)
     + m13 * (an2 * m23 - m22 * an3))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS cn0,
  (m11 * (an2 * m33 - an3 * m23) - an1 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * an3 - an2 * m13))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS cn1,
  (m11 * (m22 * an3 - m23 * an2) - m12 * (m12 * an3 - an2 * m13)
     + an1 * (m12 * m23 - m22 * m13))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS cn2
  FROM s)
SELECT o_orderkey,
       {SR('ce0 + ce1 * ((o_orderkey % 512)::double - me)'
           ' + ce2 * (((o_orderkey * 7) % 512)::double - mn)', 9)} AS gx,
       {SR('cn0 + cn1 * ((o_orderkey % 512)::double - me)'
           ' + cn2 * (((o_orderkey * 7) % 512)::double - mn)', 9)} AS gy
FROM orders CROSS JOIN c"""


def _refine_fixture() -> tuple[list, list[int]]:
    """16 dyadic GCPs (count a power of two so the FULL-set means are
    exact), with gross +/-8.0 geo displacements planted at i = 5 and
    i = 11 — far above the 0.5 tolerance while the clean points' fit
    residuals stay at the +/-3/64 perturbation scale."""
    out, outliers = [], [5, 11]
    for i in range(16):
        e1 = float((i * 61) % 512 // 8 * 8)
        n1 = float((i * 113 + 37) % 512 // 8 * 8)
        pert = ((i * 37) % 7 - 3) / 64.0
        e2 = 10.0 + e1 / 64.0 + n1 / 128.0 + pert
        n2 = -5.0 + e1 / 256.0 - n1 / 64.0 - pert
        if i in outliers:
            e2 += 8.0
            n2 -= 8.0
        out.append((e1, n1, e2, n2))
    return out, outliers


def _sql_gcp_refine() -> str:
    gcps, outliers = _refine_fixture()
    full = "VALUES " + ", ".join(
        f"({e1!r}::double, {n1!r}::double, {e2!r}::double, {n2!r}::double)"
        for e1, n1, e2, n2 in gcps)
    kept = "VALUES " + ", ".join(
        f"({e1!r}::double, {n1!r}::double, {e2!r}::double, {n2!r}::double)"
        for i, (e1, n1, e2, n2) in enumerate(gcps) if i not in outliers)
    # identical Cramer expressions to _GCP1_SQL, but: means from the FULL
    # polluted set (the reference keeps them fixed across refits,
    # gdal_crs.cpp:1142), normal equations over the KEPT set only.
    return f"""WITH gf(e1, n1, e2, n2) AS ({full}),
g(e1, n1, e2, n2) AS ({kept}),
mu AS (SELECT sum(e1) / count(*) AS me, sum(n1) / count(*) AS mn FROM gf),
s AS (SELECT me, mn, count(*)::double AS m11,
             sum(e1 - me) AS m12, sum(n1 - mn) AS m13,
             sum((e1 - me) * (e1 - me)) AS m22,
             sum((e1 - me) * (n1 - mn)) AS m23,
             sum((n1 - mn) * (n1 - mn)) AS m33,
             sum(e2) AS ae1, sum(e2 * (e1 - me)) AS ae2,
             sum(e2 * (n1 - mn)) AS ae3,
             sum(n2) AS an1, sum(n2 * (e1 - me)) AS an2,
             sum(n2 * (n1 - mn)) AS an3
      FROM g CROSS JOIN mu GROUP BY me, mn),
c AS (SELECT me, mn,
  (ae1 * (m22 * m33 - m23 * m23) - m12 * (ae2 * m33 - m23 * ae3)
     + m13 * (ae2 * m23 - m22 * ae3))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS ce0,
  (m11 * (ae2 * m33 - ae3 * m23) - ae1 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * ae3 - ae2 * m13))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS ce1,
  (m11 * (m22 * ae3 - m23 * ae2) - m12 * (m12 * ae3 - ae2 * m13)
     + ae1 * (m12 * m23 - m22 * m13))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS ce2,
  (an1 * (m22 * m33 - m23 * m23) - m12 * (an2 * m33 - m23 * an3)
     + m13 * (an2 * m23 - m22 * an3))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS cn0,
  (m11 * (an2 * m33 - an3 * m23) - an1 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * an3 - an2 * m13))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS cn1,
  (m11 * (m22 * an3 - m23 * an2) - m12 * (m12 * an3 - an2 * m13)
     + an1 * (m12 * m23 - m22 * m13))
  / (m11 * (m22 * m33 - m23 * m23) - m12 * (m12 * m33 - m23 * m13)
     + m13 * (m12 * m23 - m22 * m13)) AS cn2
  FROM s)
SELECT o_orderkey,
       {SR('ce0 + ce1 * ((o_orderkey % 512)::double - me)'
           ' + ce2 * (((o_orderkey * 7) % 512)::double - mn)', 9)} AS gx,
       {SR('cn0 + cn1 * ((o_orderkey % 512)::double - me)'
           ' + cn2 * (((o_orderkey * 7) % 512)::double - mn)', 9)} AS gy
FROM orders CROSS JOIN c"""


@register("warp_gcp_refine", _sql_gcp_refine())
def q_warp_gcp_refine(spark, sf_dir):
    """GCP refinement gate (gdal_translate -refine_gcps; reference
    remove_outliers in alg/gdal_crs.cpp:1097): two gross outliers are
    planted in a 16-point dyadic fixture; the iterative
    fit→worst-residual→drop→refit loop must remove exactly them (one
    per iteration, means held FIXED at the original full-set values —
    the reference's quirk) before transforming the orders grid.  A
    refinement that drops the wrong point, recomputes means, or drops
    both at once produces different coefficients and hash-mismatches."""
    from gdal_spark.spatial.gcp import refine_gcps

    gcps, outliers = _refine_fixture()
    fit, kept = refine_gcps(gcps, order=1, tolerance=0.5)
    assert [i for i in range(16) if i not in kept] == outliers
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 512).cast("double").alias("e"),
        ((F.col("o_orderkey") * 7) % 512).cast("double").alias("n"),
    )
    gx, gy = gcp_poly_cols(fit, F.col("e"), F.col("n"))
    return o.select(
        "o_orderkey", R(gx, 9).alias("gx"), R(gy, 9).alias("gy")
    )


@register("warp_gcp_poly", _GCP1_SQL)
def q_warp_gcp_poly(spark, sf_dir):
    """Order-1 GCP polynomial transform of orders-derived pixel coords —
    GDALGCPTransform forward direction (gdal_crs.cpp:451-460 mean-centered
    CRS_georef).  The oracle re-runs the full normal-equation fit in SQL."""
    fit = fit_gcp_poly(gcp_fixture(1), order=1)
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 512).cast("double").alias("e"),
        ((F.col("o_orderkey") * 7) % 512).cast("double").alias("n"),
    )
    gx, gy = gcp_poly_cols(fit, F.col("e"), F.col("n"))
    return o.select(
        "o_orderkey", R(gx, 9).alias("gx"), R(gy, 9).alias("gy")
    )


def _gcp2_sql() -> str:
    fit = fit_gcp_poly(gcp_fixture(2), order=2)
    e = [f"{c!r}::double" for c in fit.coef_e]
    n = [f"{c!r}::double" for c in fit.coef_n]
    me, mn = f"{fit.e_mean!r}::double", f"{fit.n_mean!r}::double"
    ec = f"((o_orderkey % 512)::double - {me})"
    nc = f"(((o_orderkey * 7) % 512)::double - {mn})"
    gx = (f"{e[0]} + {e[1]} * {ec} + {e[2]} * {nc} + {e[3]} * ({ec} * {ec})"
          f" + {e[4]} * ({ec} * {nc}) + {e[5]} * ({nc} * {nc})")
    gy = (f"{n[0]} + {n[1]} * {ec} + {n[2]} * {nc} + {n[3]} * ({ec} * {ec})"
          f" + {n[4]} * ({ec} * {nc}) + {n[5]} * ({nc} * {nc})")
    return (f"SELECT o_orderkey, {SR(gx, 9)} AS gx, {SR(gy, 9)} AS gy "
            "FROM orders")


@register("warp_gcp_poly2", _gcp2_sql())
def q_warp_gcp_poly2(spark, sf_dir):
    """Order-2 GCP polynomial (term ladder [1,e,n,e2,en,n2],
    gdal_crs.cpp:896-921; least-squares calcls path over 16 GCPs).  The
    oracle applies coefficients from the import-time run of the SAME
    deterministic fit, so a solver regression breaks the gate."""
    fit = fit_gcp_poly(gcp_fixture(2), order=2)
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 512).cast("double").alias("e"),
        ((F.col("o_orderkey") * 7) % 512).cast("double").alias("n"),
    )
    gx, gy = gcp_poly_cols(fit, F.col("e"), F.col("n"))
    return o.select(
        "o_orderkey", R(gx, 9).alias("gx"), R(gy, 9).alias("gy")
    )


# ---------------------------------------------------------------------------
# 67. cubicspline sample kernel — the last named resampler in the warp menu
# (gdalwarper.h:37-67 GRA_CubicSpline; gdalwarpkernel.cpp GWKBSpline).
# ---------------------------------------------------------------------------

def _sql_cubicspline_val() -> str:
    gx, gy = _sql_global_px(sql_lon("o_orderkey"), sql_lat("o_orderkey"))

    def bw(t_expr: str, d: str) -> str:
        ax = f"abs(({t_expr}) - ({d})::double)"
        return (f"(CASE WHEN {ax} < 1.0 THEN 4.0::double"
                f" - 6.0::double * {ax} * {ax}"
                f" + 3.0::double * {ax} * {ax} * {ax}"
                f" WHEN {ax} < 2.0 THEN (2.0::double - {ax})"
                f" * (2.0::double - {ax}) * (2.0::double - {ax})"
                f" ELSE 0.0::double END)")

    cx = f"least({_MAXPX}, greatest(0, ix0 + dx.d))::bigint"
    cy = f"least({_MAXPX}, greatest(0, iy0 + dy.d))::bigint"
    return f"""
WITH p AS (SELECT o_orderkey, ({gx}) AS gxv, ({gy}) AS gyv FROM orders),
p2 AS (SELECT o_orderkey,
              floor(gxv - 0.5) AS ix0, floor(gyv - 0.5) AS iy0,
              gxv - 0.5 - floor(gxv - 0.5) AS fx,
              gyv - 0.5 - floor(gyv - 0.5) AS fy FROM p),
tap AS (SELECT unnest(generate_series(-1, 2)) AS d),
c AS (SELECT o_orderkey,
             ({bw('fx', 'dx.d')}) * ({bw('fy', 'dy.d')}) AS w,
             {cx} AS cx, {cy} AS cy
      FROM p2 CROSS JOIN tap dx CROSS JOIN tap dy)
SELECT o_orderkey,
       {SR(f"sum(w * ({TL.sql_pixel_value('cx', 'cy', '1')})) / sum(w)", 6)} AS cubicspline_val
FROM c GROUP BY o_orderkey"""


@register("raster_sample_cubicspline", _sql_cubicspline_val())
def q_raster_sample_cubicspline(spark, sf_dir):
    """Warp-cubicspline sampling (cubic B-spline, GWKBSpline in
    gdalwarpkernel.cpp:104-126's filter menu; weight-normalized like
    GWKResample): completes the named kernel menu
    (near/bilinear/cubic/cubicspline/lanczos)."""
    pts = order_points(spark, sf_dir)
    raster = TL.synthetic_raster(spark, Z_RASTER, bands=1)
    out = TL.sample_cubicspline(
        pts, raster, Z_RASTER, band=1, point_id="o_orderkey"
    )
    return out.withColumn("cubicspline_val", R("cubicspline_val", 6))


# ---------------------------------------------------------------------------
# 68. Z/3D WKB + Distance3D (OGR_G_Distance3D, ogrgeometry.cpp:3941:
# euclidean 3D distance, both geometries must carry Z).  The probe polyline
# is built as ISO WKB LineString Z bytes and decoded through the codec, so
# the gate exercises the Z parse path; the per-row distance is unrolled
# per-segment Column math (map-only, JVM-side).
# ---------------------------------------------------------------------------

def _line3d_fixture() -> "np.ndarray":
    pts = []
    for i in range(8):
        pts.append((
            float((i * 5) % 16) / 2.0,
            float((i * 11 + 3) % 16) / 2.0,
            float((i * 7) % 8) / 4.0,
        ))
    return np.asarray(pts, dtype=np.float64)


_P3D_X = "((o_orderkey % 64)::double / 4.0)"
_P3D_Y = "(((o_orderkey * 7) % 64)::double / 4.0)"
_P3D_Z = "(((o_orderkey * 13) % 32)::double / 8.0)"


def _sql_distance3d() -> str:
    line = _line3d_fixture()
    segs = []
    for i in range(line.shape[0] - 1):
        ax, ay, az = line[i]
        dx, dy, dz = line[i + 1] - line[i]
        len2 = dx * dx + dy * dy + dz * dz
        segs.append(
            f"({ax!r}::double, {ay!r}::double, {az!r}::double, "
            f"{dx!r}::double, {dy!r}::double, {dz!r}::double, "
            f"{len2!r}::double)"
        )
    t = ("(CASE WHEN len2 > 0 THEN greatest(least("
         f"(({_P3D_X} - sax) * sdx + ({_P3D_Y} - say) * sdy"
         f" + ({_P3D_Z} - saz) * sdz) / len2, 1.0), 0.0)"
         " ELSE 0.0 END)")
    d2 = (f"(({_P3D_X} - (sax + {t} * sdx)) * ({_P3D_X} - (sax + {t} * sdx))"
          f" + ({_P3D_Y} - (say + {t} * sdy)) * ({_P3D_Y} - (say + {t} * sdy))"
          f" + ({_P3D_Z} - (saz + {t} * sdz)) * ({_P3D_Z} - (saz + {t} * sdz)))")
    return f"""WITH s(sax, say, saz, sdx, sdy, sdz, len2) AS
  (VALUES {', '.join(segs)})
SELECT o_orderkey, {SR(f'sqrt(min({d2}))', 9)} AS d3
FROM orders CROSS JOIN s GROUP BY o_orderkey"""


@register("geom_distance3d", _sql_distance3d())
def q_geom_distance3d(spark, sf_dir):
    """3D distance from orders-derived XYZ points to a WKB-Z polyline
    (OGR_G_Distance3D semantics; SFCGAL euclidean point→segment in 3D).
    The polyline round-trips through the ISO LineString Z codec
    (wkb_linestring_z → parse_wkb) before becoming literal Column math."""
    wkb = G.wkb_linestring_z(_line3d_fixture())
    kind, line = G.parse_wkb(wkb)
    assert kind == "linestring_z"
    px = (F.col("o_orderkey") % 64).cast("double") / F.lit(4.0)
    py = ((F.col("o_orderkey") * 7) % 64).cast("double") / F.lit(4.0)
    pz = ((F.col("o_orderkey") * 13) % 32).cast("double") / F.lit(8.0)
    d2s = []
    for i in range(line.shape[0] - 1):
        ax, ay, az = (float(v) for v in line[i])
        dx, dy, dz = (float(v) for v in (line[i + 1] - line[i]))
        len2 = dx * dx + dy * dy + dz * dz
        if len2 > 0:
            t_raw = ((px - F.lit(ax)) * F.lit(dx) + (py - F.lit(ay)) * F.lit(dy)
                     + (pz - F.lit(az)) * F.lit(dz)) / F.lit(len2)
            t = F.greatest(F.least(t_raw, F.lit(1.0)), F.lit(0.0))
        else:
            t = F.lit(0.0)
        ex = px - (F.lit(ax) + t * F.lit(dx))
        ey = py - (F.lit(ay) + t * F.lit(dy))
        ez = pz - (F.lit(az) + t * F.lit(dz))
        d2s.append(ex * ex + ey * ey + ez * ez)
    return _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        R(F.sqrt(F.least(*d2s)), 9).alias("d3"),
    )


# ---------------------------------------------------------------------------
# 69. Ellipsoidal (WGS84) geodesic measures — closed-form upgrades of the
# spherical gates toward OGR_G_GeodesicArea / GeodesicLength (GeographicLib
# Karney semantics in the reference): authalic-sphere area (error O(f^2),
# SURVEY §8) and Andoyer–Lambert length (error O(f^2·a)).
# ---------------------------------------------------------------------------

from gdal_spark.spatial import ellipsoid as EL  # noqa: E402


def _sql_ellipsoidal_area_km2() -> str:
    ra = EL.AUTHALIC_RADIUS
    xi1 = EL.sql_authalic_lat("y1a * (pi() / 180.0)")
    xi2 = EL.sql_authalic_lat("y2a * (pi() / 180.0)")
    term = (f"((x2a - x1a) * (pi() / 180.0)) * "
            f"(2.0 + sin({xi1}) + sin({xi2}))")
    return f"""WITH seg(poly_id, x2a, y2a, x1a, y1a) AS ({_segment_values()})
SELECT poly_id,
       {SR(f'abs(sum({term})) * {ra!r} * {ra!r} / 2.0 / 1000000.0', 3)}
         AS area_km2
FROM seg GROUP BY poly_id"""


@register("geom_area_ellipsoidal", _sql_ellipsoidal_area_km2())
def q_geom_area_ellipsoidal(spark, sf_dir):
    """ELLIPSOIDAL polygon area (toward OGR_G_GeodesicArea's GeographicLib
    exact S12): geodetic→authalic latitude (Snyder eq. 3-18 series), then
    the Chamberlain–Duquette sum on the authalic sphere
    (R_a = 6371007.181 m).  Band areas are exact; edge-shape residual vs
    Karney is O(f²) relative — bound documented in SURVEY §8."""
    import math as _m
    from typing import Iterator

    import pandas as pd

    ra = EL.AUTHALIC_RADIUS
    d2r = _m.pi / 180.0
    p = polygons_df(spark).select("poly_id", "rings")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, areas = [], []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                total = 0.0
                for ring in G.rings_to_numpy(rings):
                    xi1 = EL.authalic_lat_np(ring[:-1, 1] * d2r)
                    xi2 = EL.authalic_lat_np(ring[1:, 1] * d2r)
                    t = ((ring[1:, 0] - ring[:-1, 0]) * d2r) * (
                        2.0 + np.sin(xi1) + np.sin(xi2)
                    )
                    for v in t:  # sequential — SQL sum() association
                        total += float(v)
                ids.append(pid)
                areas.append(abs(total) * ra * ra / 2.0 / 1000000.0)
            yield pd.DataFrame({"poly_id": ids, "area_km2": areas})

    out = p.mapInPandas(run, "poly_id long, area_km2 double")
    return out.select("poly_id", R("area_km2", 3).alias("area_km2"))


def _sql_ellipsoidal_perimeter() -> str:
    d = EL.sql_andoyer_m("y1a", "x1a", "y2a", "x2a")
    return f"""WITH seg(poly_id, x2a, y2a, x1a, y1a) AS ({_segment_values()})
SELECT poly_id, {SR(f'sum({d})', 3)} AS ellipsoidal_m
FROM seg GROUP BY poly_id"""


@register("geom_length_ellipsoidal", _sql_ellipsoidal_perimeter())
def q_geom_length_ellipsoidal(spark, sf_dir):
    """ELLIPSOIDAL ring length (toward ST_Length(geom, use_ellipsoid=true),
    ogr/ogrsqlitesqlfunctions.cpp:627-681): Σ Andoyer–Lambert segment
    distances (reduced-latitude second-order flattening correction,
    error O(f²·a) vs Vincenty/Karney — SURVEY §8)."""
    from typing import Iterator

    import pandas as pd

    p = polygons_df(spark).select("poly_id", "rings")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, per = [], []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                total = 0.0
                for ring in G.rings_to_numpy(rings):
                    d = EL.andoyer_distance_np(
                        ring[:-1, 1], ring[:-1, 0], ring[1:, 1], ring[1:, 0]
                    )
                    for v in d:  # sequential — SQL sum() association
                        total += float(v)
                ids.append(pid)
                per.append(total)
            yield pd.DataFrame({"poly_id": ids, "ellipsoidal_m": per})

    out = p.mapInPandas(run, "poly_id long, ellipsoidal_m double")
    return out.select("poly_id", R("ellipsoidal_m", 3).alias("ellipsoidal_m"))


# ---------------------------------------------------------------------------
# 70. RPC transformer (alg/gdal_rpc.cpp RPCTransformPoint): rational cubic
# (lon, lat, height) → (pixel, line) — pure map-only column math; the
# 20-term ladder and OFF/SCALE normalization follow the reference exactly.
# ---------------------------------------------------------------------------

from gdal_spark.spatial.rpc import (  # noqa: E402
    rpc_fixture, rpc_pixel_line_cols, sql_rpc_pixel_line,
)

_RPC_LON = "(10.0 + (o_orderkey % 256)::double / 64.0 - 2.0)"
_RPC_LAT = "(45.0 + ((o_orderkey * 7) % 256)::double / 64.0 - 2.0)"
_RPC_H = "(((o_orderkey % 1024)::double - 512.0))"


def _sql_rpc() -> str:
    px, ln = sql_rpc_pixel_line(rpc_fixture(), _RPC_LON, _RPC_LAT, _RPC_H)
    return (f"SELECT o_orderkey, {SR(px, 9)} AS px, {SR(ln, 9)} AS line "
            "FROM orders")


@register("warp_rpc_transform", _sql_rpc())
def q_warp_rpc_transform(spark, sf_dir):
    """Forward RPC transform of orders-derived (lon, lat, height) triples
    (RPC00B-style model, alg/gdal_rpc.cpp RPCComputeTerms + RPCEvaluate
    ratio of cubics; the ITERATIVE inverse is gated separately as
    warp_rpc_inverse).  Normalized inputs stay in [-1, 1] like real
    vendor models; all coefficients dyadic."""
    model = rpc_fixture()
    lon = F.lit(10.0) + (F.col("o_orderkey") % 256).cast("double") / F.lit(64.0) - F.lit(2.0)
    lat = F.lit(45.0) + ((F.col("o_orderkey") * 7) % 256).cast("double") / F.lit(64.0) - F.lit(2.0)
    h = (F.col("o_orderkey") % 1024).cast("double") - F.lit(512.0)
    px, ln = rpc_pixel_line_cols(model, lon, lat, h)
    return _read(spark, sf_dir, "orders").select(
        "o_orderkey", R(px, 9).alias("px"), R(ln, 9).alias("line")
    )


# ---------------------------------------------------------------------------
# 71. Thin-plate-spline transformer (GDALCreateTPSTransformer,
# alg/gdal_tps.cpp → thinplatespline.cpp VizGeorefSpline2D: U = d²·log d²
# radial basis + affine part, exact interpolation through the control
# points).  Driver-side bounded solve, unrolled map-only apply.
# ---------------------------------------------------------------------------

from gdal_spark.spatial.tps import (  # noqa: E402
    fit_tps, sql_tps_apply, tps_apply_cols, tps_fixture,
)

_TPS_X = "((o_orderkey % 48)::double + (o_orderkey % 7)::double / 8.0)"
_TPS_Y = "(((o_orderkey * 11) % 32)::double + (o_orderkey % 5)::double / 8.0)"


def _sql_tps() -> str:
    pts, tgt = tps_fixture()
    gx, gy = sql_tps_apply(fit_tps(pts, tgt), _TPS_X, _TPS_Y)
    return (f"SELECT o_orderkey, {SR(gx, 9)} AS gx, {SR(gy, 9)} AS gy "
            "FROM orders")


@register("warp_tps_transform", _sql_tps())
def q_warp_tps_transform(spark, sf_dir):
    """TPS warp of orders-derived points through the 12-control-point
    fixture.  The Spark side re-runs the (n+3) interpolation solve at
    query time, the oracle applies the import-time solution of the SAME
    deterministic solver — a solver regression breaks the gate; the
    apply expressions are mirrored term-for-term."""
    pts, tgt = tps_fixture()
    fit = fit_tps(pts, tgt)
    x = (F.col("o_orderkey") % 48).cast("double") \
        + (F.col("o_orderkey") % 7).cast("double") / F.lit(8.0)
    y = ((F.col("o_orderkey") * 11) % 32).cast("double") \
        + (F.col("o_orderkey") % 5).cast("double") / F.lit(8.0)
    gx, gy = tps_apply_cols(fit, x, y)
    return _read(spark, sf_dir, "orders").select(
        "o_orderkey", R(gx, 9).alias("gx"), R(gy, 9).alias("gy")
    )


# ---------------------------------------------------------------------------
# 72. Geolocation-array transformer (alg/gdalgeoloc.cpp GDALGeoLocTransform
# forward path): swath-style subsampled LON/LAT arrays, bilinear
# interpolation with edge retreat and beyond-border linear extension.
# ---------------------------------------------------------------------------

from gdal_spark.operators import geoloc as GL  # noqa: E402

_GLP_X = "((o_orderkey % 136)::double - 4.0)"
_GLP_Y = "(((o_orderkey * 7) % 104)::double - 4.0)"


def _sql_geoloc() -> str:
    xs, ys = GL.GL_XSIZE, GL.GL_YSIZE
    x00, y00 = GL.sql_geoloc_grid_value("ix", "iy")
    x10, y10 = GL.sql_geoloc_grid_value("ix + 1", "iy")
    x01, y01 = GL.sql_geoloc_grid_value("ix", "iy + 1")
    x11, y11 = GL.sql_geoloc_grid_value("ix + 1", "iy + 1")
    gx = (f"((1.0 - fl) * ({x00} + fp * ({x10} - {x00}))"
          f" + fl * ({x01} + fp * ({x11} - {x01})))")
    gy = (f"((1.0 - fl) * ({y00} + fp * ({y10} - {y00}))"
          f" + fl * ({y01} + fp * ({y11} - {y01})))")
    return f"""WITH n AS (
  SELECT o_orderkey,
         (({_GLP_X}) - 0.0) / 8.0 AS gp,
         (({_GLP_Y}) - 0.0) / 8.0 AS gl
  FROM orders),
i AS (
  SELECT o_orderkey, gp, gl,
         (CASE WHEN ix0 = {xs - 1} THEN ix0 - 1 ELSE ix0 END) AS ix,
         (CASE WHEN iy0 = {ys - 1} THEN iy0 - 1 ELSE iy0 END) AS iy
  FROM (SELECT o_orderkey, gp, gl,
               floor(least(greatest(gp, 0.0), {float(xs - 1)!r}))::int AS ix0,
               floor(least(greatest(gl, 0.0), {float(ys - 1)!r}))::int AS iy0
        FROM n)),
f AS (SELECT o_orderkey, gp - ix::double AS fp, gl - iy::double AS fl,
             ix, iy FROM i)
SELECT o_orderkey, {SR(gx, 9)} AS geo_x, {SR(gy, 9)} AS geo_y FROM f"""


@register("warp_geoloc_transform", _sql_geoloc())
def q_warp_geoloc_transform(spark, sf_dir):
    """Forward geoloc transform of orders-derived pixel/line coords over
    the synthetic 16×12 swath grid (PIXEL/LINE_STEP=8).  Points
    deliberately run past every border so the clamp + edge-retreat +
    linear-extension paths (gdalgeoloc.cpp:443-500) are all exercised.
    The engine joins the materialized array (4 broadcast taps); the
    oracle evaluates the closed-form grid — independent paths."""
    pts = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        ((F.col("o_orderkey") % 136).cast("double") - F.lit(4.0)).alias("px"),
        (((F.col("o_orderkey") * 7) % 104).cast("double") - F.lit(4.0)).alias("py"),
    )
    out = GL.geoloc_transform(
        pts, GL.geoloc_grid(spark), point_id="o_orderkey"
    )
    return out.select(
        "o_orderkey",
        R(F.col("geo_x"), 9).alias("geo_x"),
        R(F.col("geo_y"), 9).alias("geo_y"),
    )


# ---------------------------------------------------------------------------
# 73. Approximating transformer (GDALApproxTransform,
# alg/gdaltransformer.cpp: evaluate the exact transform at the span's
# endpoints + midpoint; if the midpoint's deviation from the linear
# interpolation is within dfMaxError, lerp the whole span, else subdivide
# each half recursively).  The recursion is re-expressed per-row as a
# deterministic level cascade (16 → 8 → 4 → exact), which is the same
# decision tree the recursive form takes on a regular pixel grid; 1-D
# output span (the reference checks both output dims).
# ---------------------------------------------------------------------------

_APPROX_EPS = 2000.0  # metres of Mercator-y error allowed (mixed outcomes
                      # at every level on the fixture span — see BENCH.md)


def q__approx_exact_col(v):
    """Exact 'expensive' transform: true Mercator northing of
    lat = v*0.5 - 30 — the nonlinear leg of the engine's tile math."""
    import math as _m
    R = 6378137.0
    return F.lit(R) * F.log(F.tan(
        F.lit(_m.pi / 4.0) + (v * F.lit(0.5) - F.lit(30.0))
        * F.lit(_m.pi / 180.0) / F.lit(2.0)
    ))


def _approx_exact_sql(v: str) -> str:
    return (f"(6378137.0 * ln(tan(pi() / 4.0 + (({v}) * 0.5 - 30.0)"
            f" * (pi() / 180.0) / 2.0)))")


@register(
    "warp_approx_transform",
    f"""WITH p AS (SELECT o_orderkey,
  ((o_orderkey % 136)::double - 4.0) AS px FROM orders),
b AS (SELECT o_orderkey, px,
  floor(px / 16.0) * 16.0 AS b16,
  floor(px / 8.0) * 8.0 AS b8,
  floor(px / 4.0) * 4.0 AS b4 FROM p)
SELECT o_orderkey, {SR(f'''CASE
 WHEN abs({_approx_exact_sql('b16 + 8.0')}
      - ({_approx_exact_sql('b16')} + {_approx_exact_sql('b16 + 16.0')}) / 2.0)
      <= {_APPROX_EPS!r}
 THEN {_approx_exact_sql('b16')} + (px - b16) / 16.0
      * ({_approx_exact_sql('b16 + 16.0')} - {_approx_exact_sql('b16')})
 WHEN abs({_approx_exact_sql('b8 + 4.0')}
      - ({_approx_exact_sql('b8')} + {_approx_exact_sql('b8 + 8.0')}) / 2.0)
      <= {_APPROX_EPS!r}
 THEN {_approx_exact_sql('b8')} + (px - b8) / 8.0
      * ({_approx_exact_sql('b8 + 8.0')} - {_approx_exact_sql('b8')})
 WHEN abs({_approx_exact_sql('b4 + 2.0')}
      - ({_approx_exact_sql('b4')} + {_approx_exact_sql('b4 + 4.0')}) / 2.0)
      <= {_APPROX_EPS!r}
 THEN {_approx_exact_sql('b4')} + (px - b4) / 4.0
      * ({_approx_exact_sql('b4 + 4.0')} - {_approx_exact_sql('b4')})
 ELSE {_approx_exact_sql('px')} END''', 6)} AS merc_y
FROM b""",
)
def q_warp_approx_transform(spark, sf_dir):
    """GDALApproxTransform semantics over the Mercator-northing leg:
    per-span midpoint-error check with recursive halving, collapsed to a
    per-row CASE cascade — whole-stage-codegen column math, zero Python.
    At 100 TB this is the pattern that makes expensive transforms cheap:
    the lerp branch replaces transcendentals with one multiply for every
    span the error budget admits."""
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        ((F.col("o_orderkey") % 136).cast("double") - F.lit(4.0)).alias("px"),
    )
    px = F.col("px")
    b16 = F.floor(px / F.lit(16.0)) * F.lit(16.0)
    b8 = F.floor(px / F.lit(8.0)) * F.lit(8.0)
    b4 = F.floor(px / F.lit(4.0)) * F.lit(4.0)
    T = q__approx_exact_col

    def lerp(b, w):
        return T(b) + (px - b) / F.lit(w) * (T(b + F.lit(w)) - T(b))

    def ok(b, w):
        return F.abs(
            T(b + F.lit(w / 2.0)) - (T(b) + T(b + F.lit(w))) / F.lit(2.0)
        ) <= F.lit(_APPROX_EPS)

    merc_y = (
        F.when(ok(b16, 16.0), lerp(b16, 16.0))
        .when(ok(b8, 8.0), lerp(b8, 8.0))
        .when(ok(b4, 4.0), lerp(b4, 4.0))
        .otherwise(T(px))
    )
    return o.select("o_orderkey", R(merc_y, 6).alias("merc_y"))


# ---------------------------------------------------------------------------
# 74. DSIR-style importance resampling (Xie et al., "Data Selection for
# Language Models via Importance Resampling", NeurIPS 2023): hashed
# word-bigram features, Laplace-smoothed bucket language models for the
# TARGET (en) vs RAW corpus, per-doc importance = Σ n_b·(ln p_b − ln q_b),
# deterministic hash-jitter resampling of the top-k.  The per-bucket
# log-ratio is micro-quantized to integer units so the per-doc sum is
# order-free (the engine's established exactness pattern for float sums).
# ---------------------------------------------------------------------------

_DSIR_B = 64          # hashed feature buckets
_DSIR_K = 100         # selected documents
_DSIR_MICRO = 1048576.0


def _sql_dsir() -> str:
    return f"""WITH sh AS (
  SELECT doc_id, lang, unnest({D.sql_shingle_hashes('text', 2)}) AS h
  FROM documents),
f AS (SELECT doc_id, lang, h % {_DSIR_B} AS b FROM sh),
tb AS (SELECT b, count(*) AS tn FROM f WHERE lang = 'en' GROUP BY b),
qb AS (SELECT b, count(*) AS qn FROM f GROUP BY b),
tot AS (SELECT (SELECT count(*) FROM f WHERE lang = 'en') AS tt,
               (SELECT count(*) FROM f) AS qt),
delta AS (
  SELECT qb.b,
         floor((ln((coalesce(tn, 0) + 1)::double / (tt + {_DSIR_B})::double)
              - ln((qn + 1)::double / (qt + {_DSIR_B})::double))
               * {_DSIR_MICRO!r} + 0.5)::bigint AS di
  FROM qb LEFT JOIN tb ON tb.b = qb.b CROSS JOIN tot),
w AS (SELECT f.doc_id, sum(di)::bigint AS w_micro
      FROM f JOIN delta ON delta.b = f.b GROUP BY f.doc_id),
j AS (SELECT doc_id, w_micro,
             w_micro + (('0x' || substring(md5(doc_id::varchar), 1, 8))::bigint
                        % 65536) AS score
      FROM w)
SELECT doc_id, w_micro FROM j ORDER BY score DESC, doc_id LIMIT {_DSIR_K}"""


@register("corpus_dsir_select", _sql_dsir())
def q_corpus_dsir_select(spark, sf_dir):
    """DSIR selection of the 100 docs whose hashed-bigram distribution is most
    target-like (target = the en slice).  Scale shape: one explode + two
    bounded 64-row bucket aggregates (broadcast), one map-side join, one
    per-doc integer sum, one top-k — no all-pairs anything; the bucket LMs
    are O(B) state exactly like the paper's hashed n-gram models."""
    docs = _read(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", F.split(F.trim(F.col("text")), " +").alias("_toks")
    )
    sh = base.select(
        "doc_id", "lang",
        F.explode(
            F.transform(D.shingles_from_tokens("_toks", 2), D.md5_h32)
        ).alias("h"),
    )
    f = sh.select(
        "doc_id", "lang", (F.col("h") % _DSIR_B).alias("b")
    ).localCheckpoint(eager=True)
    tb = f.filter(F.col("lang") == "en").groupBy("b").agg(
        F.count(F.lit(1)).alias("tn"))
    qb = f.groupBy("b").agg(F.count(F.lit(1)).alias("qn"))
    tot = f.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tt"),
        F.count(F.lit(1)).alias("qt"),
    )
    delta = (
        qb.join(tb, "b", "left").crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.floor(
                (F.log((F.coalesce(F.col("tn"), F.lit(0)) + 1).cast("double")
                       / (F.col("tt") + _DSIR_B).cast("double"))
                 - F.log((F.col("qn") + 1).cast("double")
                         / (F.col("qt") + _DSIR_B).cast("double")))
                * F.lit(_DSIR_MICRO) + F.lit(0.5)
            ).cast("bigint").alias("di"),
        )
    )
    w = f.join(F.broadcast(delta), "b").groupBy("doc_id").agg(
        F.sum("di").alias("w_micro"))
    score = F.col("w_micro") + (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long") % 65536
    )
    return (
        w.select("doc_id", "w_micro", score.alias("_score"))
        .orderBy(F.col("_score").desc(), "doc_id")
        .limit(_DSIR_K)
        .select("doc_id", "w_micro")
    )


# ===========================================================================
# Vector format drivers (gdal_spark/sources/): GeoJSON(Seq), ESRI Shapefile,
# GeoPackage — the reference's highest-traffic interchange drivers
# (ogr/ogrsf_frmts/{geojson,shape,gpkg}/) as real distributed sources/sinks.
# Every gate is a WRITE→READ roundtrip whose oracle recomputes the expected
# rows from the parquet tables / fixture metadata and never sees the file.
# ===========================================================================

_FMT_POINTS_ORACLE = f"""SELECT o_orderkey,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
       {SR(sql_lon('o_orderkey'), 6)} AS lon,
       {SR(sql_lat('o_orderkey'), 6)} AS lat
FROM orders"""


def _fmt_points(spark, sf_dir):
    """Point layer for the format-driver gates: orders geotags + an exact
    integer-cents attribute (text/dbf-safe — coordinates ride in binary or
    shortest-roundtrip decimal and survive bit-exactly)."""
    return order_points(spark, sf_dir).select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long").alias("cents"),
        "lon", "lat",
    )


@register("geojson_roundtrip", _FMT_POINTS_ORACLE)
def q_geojson_roundtrip(spark, sf_dir):
    """GeoJSONSeq driver gate (RFC 7946; ogr/ogrsf_frmts/geojson/
    ogrgeojsonseqdriver.cpp): distributed line-delimited Feature write
    (JVM to_json, map-only) → text-split scan + typed from_json.  Doubles
    roundtrip bit-exactly via Jackson shortest-roundtrip decimals."""
    import tempfile

    from gdal_spark.sources import geojson as GJ

    path = tempfile.mkdtemp(prefix="gdalspark_gj_gate_") + "/pts"
    pts = _fmt_points(spark, sf_dir)
    GJ.write_geojsonseq(
        pts, path,
        GJ.point_geometry(F.col("lon"), F.col("lat")),
        ["o_orderkey", "cents"],
    )
    back = GJ.read_geojsonseq(
        spark, path, "Point", "o_orderkey long, cents long")
    return back.select(
        "o_orderkey", "cents",
        R(F.element_at("geometry.coordinates", 1), 6).alias("lon"),
        R(F.element_at("geometry.coordinates", 2), 6).alias("lat"),
    )


@register(
    "geojson_featurecollection",
    f"""WITH p(poly_id, n_rings, xmin, ymin, xmax, ymax, area)
  AS ({_gp_meta_values()})
SELECT poly_id, n_rings, xmin, ymin, xmax, ymax,
       {SR('area', 6)} AS area FROM p""",
)
def q_geojson_featurecollection(spark, sf_dir):
    """GeoJSON FeatureCollection driver gate (the interchange layout,
    ogrgeojsondriver.cpp): single-document write → multiLine JSON scan →
    geometry re-measured from the parsed coordinates (envelope in pure JVM
    HOF math; area via the same shoelace as the fixture builder)."""
    import tempfile

    from gdal_spark.sources import geojson as GJ

    path = tempfile.mkdtemp(prefix="gdalspark_gjfc_gate_") + "/polys"
    GJ.write_featurecollection(
        polygons_df(spark), path,
        GJ.polygon_geometry(F.col("rings")),
        ["poly_id"],
    )
    back = GJ.read_featurecollection(
        spark, path, "Polygon", "poly_id long")

    def meas(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for pid, geom in zip(pdf["poly_id"], pdf["geometry"]):
                rs = G.rings_to_numpy(geom["coordinates"])
                xmin, ymin, xmax, ymax = G.rings_envelope(rs)
                out.append({
                    "poly_id": int(pid), "n_rings": len(rs),
                    "xmin": xmin, "ymin": ymin,
                    "xmax": xmax, "ymax": ymax,
                    "area": G.rings_area(rs),
                })
            yield pd.DataFrame(out)

    measured = back.mapInPandas(
        meas,
        "poly_id long, n_rings long, xmin double, ymin double, "
        "xmax double, ymax double, area double",
    )
    return measured.select(
        "poly_id", "n_rings", "xmin", "ymin", "xmax", "ymax",
        R(F.col("area"), 6).alias("area"),
    )


@register("shapefile_roundtrip", _FMT_POINTS_ORACLE)
def q_shapefile_roundtrip(spark, sf_dir):
    """Shapefile driver gate (ogr/ogrsf_frmts/shape/ shpopen.c/dbfopen.c):
    one .shp/.shx/.dbf trio per partition on write (map-only), one task per
    file on read with fully vectorized np.frombuffer parsing.  Coordinates
    live in .shp binary doubles (bit-exact); the integer attributes ride
    the text .dbf as dec=0 N fields."""
    import tempfile

    from gdal_spark.sources import shapefile as SHP

    d = tempfile.mkdtemp(prefix="gdalspark_shp_gate_")
    pts = _fmt_points(spark, sf_dir)
    SHP.write_point_shapefiles(
        pts, d, "lon", "lat",
        [("o_orderkey", 12), ("cents", 12)], num_files=8,
    )
    back = SHP.read_point_shapefiles(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


@register(
    "shapefile_polygons_roundtrip",
    f"""WITH p(poly_id, n_rings, xmin, ymin, xmax, ymax, area)
  AS ({_gp_meta_values()})
SELECT poly_id, n_rings, xmin, ymin, xmax, ymax,
       {SR('area', 6)} AS area FROM p""",
)
def q_shapefile_polygons_roundtrip(spark, sf_dir):
    """Polygon shapefile gate: spec ring orientation enforced on write
    (outer CW, holes CCW — shpopen.c SHPRewindObject), per-record parts
    decode on read, geometry re-measured from the decoded rings (area is
    orientation-independent: |shoelace| per ring).  Write path is the
    DISTRIBUTED sink (one .shp per partition, no driver collect —
    pinned in tests/test_format_sources.py)."""
    import tempfile

    from gdal_spark.sources import shapefile as SHP

    d = tempfile.mkdtemp(prefix="gdalspark_shpp_gate_")
    SHP.write_polygon_shapefiles(
        polygons_df(spark), d, "rings", [("poly_id", 12)], num_files=4)
    back = SHP.read_polygon_shapefiles(spark, d, ["poly_id"])

    def meas(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                rs = G.rings_to_numpy(rings)
                xmin, ymin, xmax, ymax = G.rings_envelope(rs)
                out.append({
                    "poly_id": int(pid), "n_rings": len(rs),
                    "xmin": xmin, "ymin": ymin,
                    "xmax": xmax, "ymax": ymax,
                    "area": G.rings_area(rs),
                })
            yield pd.DataFrame(out)

    measured = back.mapInPandas(
        meas,
        "poly_id long, n_rings long, xmin double, ymin double, "
        "xmax double, ymax double, area double",
    )
    return measured.select(
        "poly_id", "n_rings", "xmin", "ymin", "xmax", "ymax",
        R(F.col("area"), 6).alias("area"),
    )


@register("gpkg_points_roundtrip", _FMT_POINTS_ORACLE)
def q_gpkg_points_roundtrip(spark, sf_dir):
    """GeoPackage driver gate (OGC 12-128r19; ogr/ogrsf_frmts/gpkg/): one
    .gpkg per partition on write; read ships file bytes via binaryFile and
    opens them executor-side with sqlite3.deserialize — GPKG blob header +
    ISO WKB decoded by the engine's own codec."""
    import tempfile

    from gdal_spark.sources import gpkg as GPKG

    d = tempfile.mkdtemp(prefix="gdalspark_gpkg_gate_")
    pts = _fmt_points(spark, sf_dir)
    GPKG.write_point_gpkgs(
        pts, d, "lon", "lat", ["o_orderkey", "cents"], num_files=8)
    back = GPKG.read_point_gpkgs(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


@register(
    "gpkg_roundtrip",
    f"""WITH p(poly_id, n_rings, xmin, ymin, xmax, ymax, area)
  AS ({_gp_meta_values()})
SELECT poly_id, n_rings, xmin, ymin, xmax, ymax,
       {SR('area', 6)} AS area FROM p""",
)
def q_gpkg_roundtrip(spark, sf_dir):
    """GeoPackage polygon gate: blob envelopes surfaced pre-decode (the
    prune-before-WKB path), rings re-measured after the engine WKB parse.
    Envelope comes from the BLOB HEADER, area from the decoded rings — so
    the gate catches a header/body disagreement.  Write path is the
    DISTRIBUTED sink (one .gpkg per partition, no driver collect —
    pinned in tests/test_format_sources.py)."""
    import tempfile

    from gdal_spark.sources import gpkg as GPKG

    d = tempfile.mkdtemp(prefix="gdalspark_gpkgp_gate_")
    GPKG.write_polygon_gpkgs(
        polygons_df(spark), d, int_fields=["poly_id"], num_files=4)
    back = GPKG.read_polygon_gpkg(spark, d + "/*.gpkg", ["poly_id"])

    def meas(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                rs = G.rings_to_numpy(row["rings"])
                out.append({
                    "poly_id": int(row["poly_id"]),
                    "n_rings": len(rs),
                    "xmin": row["xmin"], "ymin": row["ymin"],
                    "xmax": row["xmax"], "ymax": row["ymax"],
                    "area": G.rings_area(rs),
                })
            yield pd.DataFrame(out)

    measured = back.mapInPandas(
        meas,
        "poly_id long, n_rings long, xmin double, ymin double, "
        "xmax double, ymax double, area double",
    )
    return measured.select(
        "poly_id", "n_rings", "xmin", "ymin", "xmax", "ymax",
        R(F.col("area"), 6).alias("area"),
    )


@register(
    "ogr_tindex",
    f"""WITH p AS (SELECT o_orderkey,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
       {sql_lon('o_orderkey')} AS lon, {sql_lat('o_orderkey')} AS lat
  FROM orders)
SELECT 8::bigint AS n_files,
       {SR('min(lon)', 6)} AS xmin, {SR('min(lat)', 6)} AS ymin,
       {SR('max(lon)', 6)} AS xmax, {SR('max(lat)', 6)} AS ymax
FROM p""",
)
def q_ogr_tindex(spark, sf_dir):
    """ogrtindex gate (apps/ogrtindex.cpp — build a tile-index layer of
    per-source envelopes): the points layer is written as 8 distributed
    shapefiles, then indexed by a HEADER-ONLY scan — the .shp main-file
    header carries the layer envelope at bytes 36..68 (shapefile 1998
    spec), so the tindex reads 100 bytes per source and never touches a
    record.  The per-file envelopes depend on hash partitioning, so the
    gate pins the partition-invariant facts: file count and the UNION
    envelope, which must equal the exact global coordinate extremes."""
    import struct
    import tempfile

    from gdal_spark.sources import shapefile as SHP

    d = tempfile.mkdtemp(prefix="gdalspark_tindex_gate_")
    pts = _fmt_points(spark, sf_dir)
    SHP.write_point_shapefiles(
        pts, d, "lon", "lat",
        [("o_orderkey", 12), ("cents", 12)], num_files=8)

    files = spark.read.format("binaryFile").load(f"{d}/*.shp") \
        .select("path", F.col("content").alias("buf"))

    def headers(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for path, buf in zip(pdf["path"], pdf["buf"]):
                xmin, ymin, xmax, ymax = struct.unpack_from(
                    "<4d", bytes(buf[:100]), 36)
                recs.append({"location": str(path), "xmin": xmin,
                             "ymin": ymin, "xmax": xmax, "ymax": ymax})
            yield pd.DataFrame(
                recs,
                columns=["location", "xmin", "ymin", "xmax", "ymax"])

    tindex = files.mapInPandas(
        headers,
        "location string, xmin double, ymin double, xmax double, "
        "ymax double")
    return tindex.agg(
        F.count(F.lit(1)).alias("n_files"),
        R(F.min("xmin"), 6).alias("xmin"), R(F.min("ymin"), 6).alias("ymin"),
        R(F.max("xmax"), 6).alias("xmax"), R(F.max("ymax"), 6).alias("ymax"),
    )


@register("ods_roundtrip", _FMT_POINTS_ORACLE)
def q_ods_roundtrip(spark, sf_dir):
    """ODS driver gate (OASIS OpenDocument; ogr/ogrsf_frmts/ods/): the
    points layer written as one OpenDocument package per partition —
    STORED-first mimetype member per the package rule, office:value
    floats carrying shortest-roundtrip coordinates — read back one task
    per file (number-columns-repeated-aware parser)."""
    import tempfile

    from gdal_spark.sources import ods as ODS

    d = tempfile.mkdtemp(prefix="gdalspark_ods_gate_")
    pts = _fmt_points(spark, sf_dir)
    ODS.write_point_odss(
        pts, d, "lon", "lat", ["o_orderkey", "cents"], num_files=8)
    back = ODS.read_point_odss(spark, d, ["o_orderkey", "cents"],
                               x_col="lon", y_col="lat")
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


@register("gmt_roundtrip", _FMT_POINTS_ORACLE)
def q_gmt_roundtrip(spark, sf_dir):
    """OGR GMT ASCII driver gate (ogr/ogrsf_frmts/gmt/ogrgmtlayer.cpp):
    the points layer written as @VGMT1.0 comment-metadata text — field
    names/types in @N/@T keys, attributes on per-feature @D lines,
    shortest-roundtrip decimal coordinates — one shard per partition,
    read back one task per shard."""
    import tempfile

    from gdal_spark.sources import gmt as GMT

    d = tempfile.mkdtemp(prefix="gdalspark_gmt_gate_")
    pts = _fmt_points(spark, sf_dir)
    GMT.write_point_gmts(
        pts, d, "lon", "lat", ["o_orderkey", "cents"], num_files=8)
    back = GMT.read_point_gmts(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


@register("xlsx_roundtrip", _FMT_POINTS_ORACLE)
def q_xlsx_roundtrip(spark, sf_dir):
    """XLSX driver gate (ECMA-376 SpreadsheetML; ogr/ogrsf_frmts/xlsx/):
    the points layer written as one worksheet package per partition —
    zip + workbook/rels/sheet XML hand-assembled, numbers as shortest-
    roundtrip decimal <v> cells so coordinates survive bit-exactly —
    read back one task per file with a stdlib zip + ElementTree parse
    (sharedStrings-aware, though this writer emits inlineStr)."""
    import tempfile

    from gdal_spark.sources import xlsx as XL

    d = tempfile.mkdtemp(prefix="gdalspark_xlsx_gate_")
    pts = _fmt_points(spark, sf_dir)
    XL.write_point_xlsxs(
        pts, d, "lon", "lat", ["o_orderkey", "cents"], num_files=8)
    back = XL.read_point_xlsxs(spark, d, ["o_orderkey", "cents"],
                               x_col="lon", y_col="lat")
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


@register("spatialite_points_roundtrip", _FMT_POINTS_ORACLE)
def q_spatialite_points_roundtrip(spark, sf_dir):
    """SpatiaLite driver gate (public BLOB-Geometry spec;
    ogr/ogrsf_frmts/sqlite/ ogrsqlitelayer.cpp Import/ExportSpatiaLite-
    Geometry): one .sqlite per partition on write (map-only), bytes
    shipped via binaryFile and opened executor-side with
    sqlite3.deserialize on read.  Unlike GPKG the geometry body is NOT
    ISO WKB — one shared endian flag, 0x00/0x7C/0xFE framing — so this
    gate exercises a second, disjoint SQLite geometry codec."""
    import tempfile

    from gdal_spark.sources import spatialite as SLITE

    d = tempfile.mkdtemp(prefix="gdalspark_slite_gate_")
    pts = _fmt_points(spark, sf_dir)
    SLITE.write_point_sqlites(
        pts, d, "lon", "lat", ["o_orderkey", "cents"], num_files=8)
    back = SLITE.read_point_sqlites(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


@register(
    "spatialite_roundtrip",
    f"""WITH p(poly_id, n_rings, xmin, ymin, xmax, ymax, area)
  AS ({_gp_meta_values()})
SELECT poly_id, n_rings, xmin, ymin, xmax, ymax,
       {SR('area', 6)} AS area FROM p""",
)
def q_spatialite_roundtrip(spark, sf_dir):
    """SpatiaLite polygon gate: BLOB MBR surfaced pre-decode (the
    prune-before-body path), rings re-measured after the body parse so
    a header/body disagreement fails the oracle.  Write path is the
    DISTRIBUTED sink (one .sqlite per partition, no driver collect —
    pinned in tests/test_format_sources.py)."""
    import tempfile

    from gdal_spark.sources import spatialite as SLITE

    d = tempfile.mkdtemp(prefix="gdalspark_slitep_gate_")
    SLITE.write_polygon_sqlites(
        polygons_df(spark), d, int_fields=["poly_id"], num_files=4)
    back = SLITE.read_polygon_sqlites(spark, d, ["poly_id"])

    def meas(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                rs = G.rings_to_numpy(row["rings"])
                out.append({
                    "poly_id": int(row["poly_id"]),
                    "n_rings": len(rs),
                    "xmin": row["xmin"], "ymin": row["ymin"],
                    "xmax": row["xmax"], "ymax": row["ymax"],
                    "area": G.rings_area(rs),
                })
            yield pd.DataFrame(out)

    measured = back.mapInPandas(
        meas,
        "poly_id long, n_rings long, xmin double, ymin double, "
        "xmax double, ymax double, area double",
    )
    return measured.select(
        "poly_id", "n_rings", "xmin", "ymin", "xmax", "ymax",
        R(F.col("area"), 6).alias("area"),
    )


@register("flatgeobuf_roundtrip", _FMT_POINTS_ORACLE)
def q_flatgeobuf_roundtrip(spark, sf_dir):
    """FlatGeobuf driver gate (public spec; ogr/ogrsf_frmts/flatgeobuf/):
    one Hilbert-sorted, packed-R-tree-indexed .fgb per partition (hand-
    rolled minimal flatbuffers codec — magic/header/feature records per
    header.fbs/feature.fbs), distributed read back over binaryFile."""
    import tempfile

    from gdal_spark.sources import flatgeobuf as FGB

    d = tempfile.mkdtemp(prefix="gdalspark_fgb_gate_")
    pts = _fmt_points(spark, sf_dir)
    FGB.write_point_fgbs(
        pts, d, "lon", "lat", ["o_orderkey", "cents"], num_files=8)
    back = FGB.read_point_fgbs(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


@register(
    "flatgeobuf_bbox_scan",
    f"""WITH p(poly_id, n_rings, xmin, ymin, xmax, ymax, area)
  AS ({_gp_meta_values()})
SELECT poly_id, n_rings, {SR('area', 6)} AS area
FROM p
WHERE xmin <= {CLIP_W[2]!r} AND xmax >= {CLIP_W[0]!r}
  AND ymin <= {CLIP_W[3]!r} AND ymax >= {CLIP_W[1]!r}""",
)
def q_flatgeobuf_bbox_scan(spark, sf_dir):
    """FlatGeobuf SPATIAL-INDEX gate: polygon layer written with the packed
    Hilbert R-tree (packedrtree.cpp generateNodes/search semantics), then
    an envelope read that traverses the tree and decodes ONLY intersecting
    features — the format's reason to exist (range-request reads at
    scale).  Survivor geometry re-measured from decoded rings; the oracle
    applies the same closed-interval envelope test to fixture metadata."""
    import tempfile

    from gdal_spark.sources import flatgeobuf as FGB

    path = tempfile.mkdtemp(prefix="gdalspark_fgbp_gate_") + "/layer.fgb"
    FGB.write_polygon_fgb(polygons_df(spark), path, "rings", ["poly_id"])
    back = FGB.read_polygon_fgb(spark, path, ["poly_id"], envelope=CLIP_W)

    def meas(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                rs = G.rings_to_numpy(rings)
                out.append({
                    "poly_id": int(pid), "n_rings": len(rs),
                    "area": G.rings_area(rs),
                })
            yield pd.DataFrame(out)

    measured = back.mapInPandas(
        meas, "poly_id long, n_rings long, area double")
    return measured.select(
        "poly_id", "n_rings", R(F.col("area"), 6).alias("area"))


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, public): semantic dedup over the embeddings
# table — IVF-cluster, then drop members dominated by a better-ranked
# near-duplicate (cos ≥ τ) in the same cluster; rank keeps hard examples
# (LOW centroid similarity) first, per the paper.
# ---------------------------------------------------------------------------

@register(
    "embed_semdedup",
    SIM.sql_semdedup_keep("embeddings", dim=64, n_clusters=8, tau=0.35),
)
def q_embed_semdedup(spark, sf_dir):
    """SemDeDup survivors.  Cluster assign is map-only column math; the
    candidate stage joins on the cluster id (per-list pairs only, the
    IVF inverted-list contract); dedup is a deterministic anti-join."""
    emb = _read(spark, sf_dir, "embeddings")
    return SIM.semdedup_keep(emb, dim=64, n_clusters=8, tau=0.35)


# ---------------------------------------------------------------------------
# RPC INVERSE transformer (gdal_rpc.cpp RPCInverseTransformPoint, no-DEM
# path): inverted finite-difference affine seed + fixed linear refinement.
# Engine = 4 staged refinement projections (Column math end to end);
# oracle = the same 4 iterations as a CTE chain — bit-identical
# arithmetic, so the 9-dp rounding is pure hygiene.
# ---------------------------------------------------------------------------

from gdal_spark.spatial.rpc import (  # noqa: E402
    rpc_inverse_df, sql_rpc_inverse_ctes,
)


def _sql_rpc_inverse() -> str:
    base = ("SELECT o_orderkey, (o_orderkey % 8192)::double AS pixel, "
            "((o_orderkey * 13) % 8192)::double AS line FROM orders")
    inner = sql_rpc_inverse_ctes(rpc_fixture(), base, "o_orderkey", n_iter=4)
    return (f"SELECT o_orderkey, pixel, line, {SR('lon', 9)} AS lon, "
            f"{SR('lat', 9)} AS lat FROM ({inner})")


@register("warp_rpc_inverse", _sql_rpc_inverse())
def q_warp_rpc_inverse(spark, sf_dir):
    """Iterative RPC inverse over orders-derived pixel/line targets.
    Residual after the fixed 4 refinements is < 3e-5 px scene-wide
    (vs the reference's 0.1 px default threshold); each refinement is a
    separate projection so the multiply-referenced running estimate
    never inlines into an exponential expression tree."""
    model = rpc_fixture()
    base = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 8192).cast("double").alias("pixel"),
        ((F.col("o_orderkey") * 13) % 8192).cast("double").alias("line"),
    )
    out = rpc_inverse_df(base, model, "pixel", "line", n_iter=4)
    return out.select(
        "o_orderkey", "pixel", "line",
        R(F.col("lon"), 9).alias("lon"), R(F.col("lat"), 9).alias("lat"),
    )


# ===========================================================================
# GeoTIFF raster driver (frmts/gtiff/; public TIFF 6.0 + OGC GeoTIFF 1.1
# specs): distributed sink (one .tif per row-block) + distributed scan,
# and the COG window-pruned tiled read.  Oracles never see the files —
# they recompute the digests from the closed-form DEM.
# ===========================================================================

from gdal_spark.sources import geotiff as GT  # noqa: E402

_GT_W = 128  # raster width/height for the GeoTIFF gates


def _sql_geotiff_bands() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i),
px AS (SELECT gx.i AS x, gy.i AS y FROM g gx CROSS JOIN g gy),
v AS (SELECT x, y, {_dem_pix('x', 'y')} AS val FROM px)
SELECT (y // 32)::bigint AS band,
       sum(val * (1 + (x * 7 + y * 11) % 13))::bigint AS digest,
       count(*)::bigint AS n, min(val)::bigint AS vmin,
       max(val)::bigint AS vmax, 4326::bigint AS epsg
FROM v GROUP BY band"""


@register("geotiff_roundtrip", _sql_geotiff_bands())
def q_geotiff_roundtrip(spark, sf_dir):
    """GeoTIFF driver gate: the 128x128 closed-form DEM written as 8
    standalone Int32 striped GeoTIFFs (one per 16-row block, distributed
    applyInPandas sink), read back one-task-per-file via binaryFile +
    numpy IFD/strip decode, GLOBAL pixel coordinates recovered from each
    file's ModelTiepoint/PixelScale geotransform, GeographicTypeGeoKey
    surfaced.  Digest is a position-weighted integer sum per 32-row band
    (exact in both engines); the oracle recomputes it from the formula
    and never sees a file."""
    import tempfile

    d = tempfile.mkdtemp(prefix="gdalspark_gtiff_gate_")
    cells = _dem_cells(spark, _GT_W)
    GT.write_cell_geotiffs(cells, d, width=_GT_W, height=_GT_W,
                           block_rows=16, dtype="int32")
    back = GT.read_geotiffs(spark, d)
    return back.groupBy((F.col("gy") / 32).cast("long").alias("band")).agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 7 + F.col("gy") * 11) % 13))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
        F.min(F.col("val").cast("long")).alias("vmin"),
        F.max(F.col("val").cast("long")).alias("vmax"),
        F.max("epsg").alias("epsg"),
    )


def _sql_geotiff_window() -> str:
    # window [20,100) x [36,92); tile grid 32 -> i 0..3, j 1..2 decoded
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i),
px AS (SELECT gx.i AS x, gy.i AS y FROM g gx CROSS JOIN g gy
       WHERE gx.i >= 20 AND gx.i < 100 AND gy.i >= 36 AND gy.i < 92),
v AS (SELECT x, y, {_dem_pix('x', 'y')} * 0.5 + 0.25 AS val FROM px)
SELECT count(*)::bigint AS n,
       {SR('sum(val * ((x * 5 + y * 3) % 17))', 6)} AS digest,
       {SR('min(val)', 6)} AS vmin, {SR('max(val)', 6)} AS vmax,
       ((100 - 1) // 32 - 20 // 32 + 1)::bigint
         * ((92 - 1) // 32 - 36 // 32 + 1)::bigint AS n_tiles_decoded,
       16::bigint AS n_tiles_total
FROM v"""


@register("geotiff_tiled_window", _sql_geotiff_window())
def q_geotiff_tiled_window(spark, sf_dir):
    """COG-style window-pruned read: one 128x128 Float64 TILED (32x32)
    DEFLATE GeoTIFF, pixel window [20,100)x[36,92) decoded by seeking
    TileOffsets for ONLY the 8 intersecting tiles (of 16) — the decoded-
    tile count is surfaced as a column so the gate FAILS if the reader
    ever inflates the whole file.  Values ride the float64 path (dyadic
    *0.5+0.25 — bit-exact through the codec)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="gdalspark_gtiff_win_")
    cells = _dem_cells(spark, _GT_W).withColumn(
        "val", F.col("val") * 0.5 + 0.25)
    GT.write_cell_geotiffs(cells, d, width=_GT_W, height=_GT_W,
                           block_rows=_GT_W, dtype="float64",
                           tiled=True, tile_size=32, deflate=True)
    back = GT.read_geotiff_window(
        spark, f"{d}/block-00000.tif", 20, 36, 100, 92)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        R(F.sum(F.col("val") * ((F.col("gx") * 5 + F.col("gy") * 3) % 17)),
          6).alias("digest"),
        R(F.min("val"), 6).alias("vmin"),
        R(F.max("val"), 6).alias("vmax"),
        F.max("n_tiles_decoded").alias("n_tiles_decoded"),
        F.max("n_tiles_total").alias("n_tiles_total"),
    )


# ===========================================================================
# k-means Lloyd training (the trainer behind the IVF coarse quantizer —
# Johnson et al. 2017 billion-scale ANN) + BM25 ranked retrieval
# (Robertson & Zaragoza 2009) — corpus search / clustering primitives.
# ===========================================================================


@register(
    "embed_kmeans_lloyd",
    SIM.sql_kmeans_lloyd_summary("embeddings", dim=64, k=8),
)
def q_embed_kmeans_lloyd(spark, sf_dir):
    """One distributed Lloyd iteration over the embeddings table from the
    deterministic IVF seeds: per-cluster member count, integer member
    digest, and quantized SSE.  Centroid update = one bounded (k x dim)
    partial-agg shuffle; re-assignment = broadcast join + order-free
    integer argmin — no all-pairs, no driver vector math."""
    emb = _read(spark, sf_dir, "embeddings")
    return SIM.kmeans_lloyd_summary(emb, dim=64, k=8)


_BM25_TERMS = ["hash", "join", "vector", "stream", "filter"]


@register(
    "text_bm25_topk",
    T.sql_bm25_topk("documents", _BM25_TERMS, top_k=50),
)
def q_text_bm25_topk(spark, sf_dir):
    """BM25 top-50 over the documents corpus for a 5-term query.  tf is a
    map-only JVM HOF per broadcast term; df/N/avgdl are bounded broadcast
    aggregates; per-term scores are 2^20-quantized before the order-free
    per-doc integer sum; top-k is TakeOrdered."""
    docs = _read(spark, sf_dir, "documents")
    return T.bm25_topk(docs, _BM25_TERMS, top_k=50)


# ===========================================================================
# Snapshot table: time travel + stats-pruned copy-on-write delete (the
# north rule's Iceberg-metadata storage contract; plans/snapshots.py).
# ===========================================================================

from gdal_spark.plans.snapshots import SnapshotTable  # noqa: E402


def _sql_time_travel() -> str:
    return """WITH m AS (SELECT max(o_orderkey) // 2 AS mid FROM orders),
a AS (SELECT o_orderkey AS k FROM orders, m WHERE o_orderkey < mid),
b AS (SELECT o_orderkey AS k FROM orders, m WHERE o_orderkey >= mid),
s3a AS (SELECT k FROM a, m WHERE NOT (k >= mid // 2 AND k < mid))
SELECT 1 AS snapshot, count(*)::bigint AS n_rows, sum(k)::bigint AS key_sum,
       0::bigint AS seg_rewritten, 0::bigint AS seg_carried FROM a
UNION ALL
SELECT 2, count(*)::bigint, sum(k)::bigint, 0, 0
FROM (SELECT k FROM a UNION ALL SELECT k FROM b)
UNION ALL
SELECT 3, count(*)::bigint, sum(k)::bigint, 1, 1
FROM (SELECT k FROM s3a UNION ALL SELECT k FROM b)"""


@register("table_time_travel", _sql_time_travel())
def q_table_time_travel(spark, sf_dir):
    """Snapshot-table gate: append two key-range segments (snapshots 1-2),
    copy-on-write delete a range inside the FIRST segment (snapshot 3 —
    manifest stats must prune the second segment: the gate pins
    seg_rewritten=1 / seg_carried=1 as MEASURED engine counts against
    oracle literals), then read all three snapshots back by time travel.
    The oracle recomputes each snapshot's state from the orders table and
    never sees the files."""
    import tempfile

    root = tempfile.mkdtemp(prefix="gdalspark_snap_gate_")
    orders = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"))
    mid = orders.agg(
        F.expr("max(k) div 2").alias("m")).collect()[0]["m"]
    tbl = SnapshotTable(root, key_col="k")
    tbl.append(orders.filter(F.col("k") < mid))
    tbl.append(orders.filter(F.col("k") >= mid))
    _, rewritten, carried = tbl.delete_range(spark, mid // 2, mid)

    outs = []
    for snap in (1, 2, 3):
        rw = rewritten if snap == 3 else 0
        ca = carried if snap == 3 else 0
        outs.append(
            tbl.read(spark, as_of=snap).agg(
                F.lit(snap).cast("int").alias("snapshot"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("k").alias("key_sum"),
                F.lit(rw).cast("long").alias("seg_rewritten"),
                F.lit(ca).cast("long").alias("seg_carried"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


# ===========================================================================
# Arrow IPC (Feather V2) driver gate (ogr/ogrsf_frmts/arrow/) and WARC
# (ISO 28500, the Common-Crawl container) ingest gate — the web-archive
# path the north star's corpus arrives in.
# ===========================================================================


@register("arrow_ipc_roundtrip", _FMT_POINTS_ORACLE)
def q_arrow_ipc_roundtrip(spark, sf_dir):
    """Arrow IPC file driver gate: orders point layer → 8 .arrow shards
    (columnar record batches, one file per partition) → binaryFile +
    pyarrow BufferReader scan.  int64/float64 ride the IPC body as raw
    little-endian buffers — bit-exact roundtrip."""
    import tempfile

    from gdal_spark.sources import arrow_ipc as AIPC

    d = tempfile.mkdtemp(prefix="gdalspark_arrow_gate_")
    pts = _fmt_points(spark, sf_dir)
    AIPC.write_arrow_files(pts, d, num_files=8, partition_key="o_orderkey")
    back = AIPC.read_arrow_files(
        spark, d, "o_orderkey long, cents long, lon double, lat double")
    return back.select(
        "o_orderkey", "cents",
        R(F.col("lon"), 6).alias("lon"), R(F.col("lat"), 6).alias("lat"),
    )


@register(
    "warc_extract_roundtrip",
    """SELECT doc_id,
       length('doc ' || doc_id || chr(10) || coalesce(text, '')) AS n_chars2,
       substring(md5('doc ' || doc_id || chr(10) || coalesce(text, '')),
                 1, 16) AS digest
FROM documents""",
)
def q_warc_extract_roundtrip(spark, sf_dir):
    """WARC ingest gate (ISO 28500 / Common-Crawl layout): wrap every
    document in deterministic html, write 8 .warc.gz shards (one gzip
    MEMBER per record — the CC resynchronization framing), read them back
    one-task-per-shard, and run THE reference text extractor on the
    recovered payload bytes.  The oracle computes the expected extracted
    text straight from the documents table — so the gate fails unless the
    container + HTTP framing + extractor are byte-identical end to end."""
    import tempfile

    from gdal_spark.sources import warc as WARC

    d = tempfile.mkdtemp(prefix="gdalspark_warc_gate_")
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.encode(
            F.concat(
                F.lit("<html><head><title>doc "),
                F.col("doc_id").cast("string"),
                F.lit("</title></head><body><p>"),
                F.coalesce(F.col("text"), F.lit("")),
                F.lit("</p></body></html>"),
            ),
            "utf-8",
        ).alias("html"),
    )
    WARC.write_warc_shards(docs, d, num_files=8)
    back = WARC.read_warc_shards(spark, d)
    text2 = T.extract_text(F.col("html"))
    return back.select(
        "doc_id",
        F.length(text2).alias("n_chars2"),
        F.substring(F.md5(F.encode(text2, "utf-8")), 1, 16).alias("digest"),
    )


def _sql_cog_levels() -> str:
    # direct block-mean oracle per level (dyadic invariant: iterated 2x2
    # averaging == the direct 2^L-block mean, float-exact)
    parts = []
    for lvl in (0, 1, 2):
        r = 1 << lvl
        wl = _GT_W // r
        parts.append(f"""
SELECT {lvl} AS level, count(*)::bigint AS n,
       {SR(f'''sum(bv * ((x * 3 + y * 7) % 11))''', 6)} AS digest,
       {SR('min(bv)', 6)} AS vmin, {SR('max(bv)', 6)} AS vmax
FROM (
  SELECT (gx.i // {r}) AS x, (gy.i // {r}) AS y,
         avg({_dem_pix('gx.i', 'gy.i')}) AS bv
  FROM (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i) gx
  CROSS JOIN (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i) gy
  GROUP BY x, y
)""")
    return " UNION ALL ".join(parts)


@register("geotiff_cog_overviews", _sql_cog_levels())
def q_geotiff_cog_overviews(spark, sf_dir):
    """Cloud-optimized GeoTIFF gate: the 128x128 DEM written as ONE tiled
    DEFLATE COG with 2 internal overview levels (NewSubfileType=1 IFDs
    chained off IFD0, 2x2 'average' decimation), read back by walking the
    IFD chain; per-level position-weighted digests.  The oracle computes
    each level as the DIRECT 2^L-block mean — equal to the chained
    average because every value is a dyadic rational (float-exact)."""
    import tempfile

    d = tempfile.mkdtemp(prefix="gdalspark_cog_gate_")
    cells = _dem_cells(spark, _GT_W)
    GT.write_cell_cog(cells, d, width=_GT_W, height=_GT_W,
                      block_rows=_GT_W, levels=2)
    back = GT.read_cog_levels(spark, f"{d}/block-00000.tif")
    return back.groupBy("level").agg(
        F.count(F.lit(1)).alias("n"),
        R(F.sum(F.col("val") * ((F.col("gx") * 3 + F.col("gy") * 7) % 11)),
          6).alias("digest"),
        R(F.min("val"), 6).alias("vmin"),
        R(F.max("val"), 6).alias("vmax"),
    )


# ===========================================================================
# nearblack (apps/nearblack_lib.cpp): edge-collar masking
# ===========================================================================


def _nb_pix(gx: str, gy: str) -> str:
    # DEM field with a deterministic dark collar of varying thickness;
    # interior zeros occur naturally (dem % 97 == 0) and must NOT be masked
    return (f"CASE WHEN ({gx}) < ({gy}) * 7 % 13 "
            f"OR ({gx}) >= {_DEM_W} - (({gy}) * 3 % 11) "
            f"OR ({gy}) < ({gx}) * 5 % 7 "
            f"OR (({gx}) BETWEEN 30 AND 32 AND ({gy}) BETWEEN 30 AND 32) "
            f"THEN 0.0 ELSE {_dem_pix(gx, gy)} END")


def _sql_nearblack() -> str:
    collar = RM.sql_nearblack_collar(2.0)
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_DEM_W - 1})) AS i),
v AS (SELECT gx.i AS x, gy.i AS y, {_nb_pix('gx.i', 'gy.i')} AS val
      FROM g gx CROSS JOIN g gy),
m AS (SELECT x, y, val, {collar} AS collar FROM v)
SELECT count(*) FILTER (WHERE collar)::bigint AS n_masked,
       count(*) FILTER (WHERE NOT collar)::bigint AS n_kept,
       sum(CASE WHEN NOT collar THEN val * ((x * 3 + y) % 7) END)::bigint
         AS kept_digest,
       sum(CASE WHEN NOT collar AND val <= 2.0 THEN 1 ELSE 0 END)::bigint
         AS interior_dark_kept
FROM m"""


@register("raster_nearblack", _sql_nearblack())
def q_raster_nearblack(spark, sf_dir):
    """nearblack gate: DEM with a varying-thickness dark collar; per-row +
    per-column bright extents (bounded broadcast aggregates) define the
    collar; interior dark pixels survive — a 3x3 dark blob is
    carved mid-raster and interior_dark_kept pins that all 9 cells stay."""
    w = _DEM_W
    cells = spark.range(w * w).select(
        (F.col("id") % w).alias("gx"),
        (F.col("id") / w).cast("long").alias("gy"),
    )
    dem = (
        (F.col("gx") * F.col("gx")) % 97 + (F.col("gy") * 13) % 89
    ).cast("double")
    dark = (
        (F.col("gx") < (F.col("gy") * 7) % 13)
        | (F.col("gx") >= w - (F.col("gy") * 3) % 11)
        | (F.col("gy") < (F.col("gx") * 5) % 7)
        | (F.col("gx").between(30, 32) & F.col("gy").between(30, 32))
    )
    cells = cells.withColumn(
        "val", F.when(dark, F.lit(0.0)).otherwise(dem))
    m = RM.nearblack_mask(cells, near_dist=2.0)
    kept = ~F.col("collar")
    return m.agg(
        F.sum(F.when(F.col("collar"), 1).otherwise(0)).alias("n_masked"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(kept, F.col("val") * ((F.col("gx") * 3 + F.col("gy")) % 7)))
        .cast("long").alias("kept_digest"),
        F.sum(F.when(kept & (F.col("val") <= 2.0), 1).otherwise(0))
        .alias("interior_dark_kept"),
    )


# ===========================================================================
# Multidimensional arrays (gcore/gdalmultidim.cpp GDALMDArray;
# apps/gdalmdimtranslate_lib.cpp): slice / transpose / axis-reduce views
# over a (t, y, x) cube in long form.
# ===========================================================================

from gdal_spark.operators import mdim as MD  # noqa: E402

_MD_T, _MD_N = 4, 32


def _md_pix(t: str, y: str, x: str) -> str:
    return (f"cast(({t}) * 17 + ({x}) * ({x}) % 31 + ({y}) * 5 % 23 "
            f"AS double)")


def _sql_mdim() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_MD_N - 1})) AS i),
t AS (SELECT unnest(generate_series(0, {_MD_T - 1})) AS v),
cube AS (SELECT t.v AS t, gy.i AS y, gx.i AS x,
                {_md_pix('t.v', 'gy.i', 'gx.i')} AS val
         FROM t CROSS JOIN g gy CROSS JOIN g gx),
sl AS (SELECT y, x, val FROM cube WHERE t = 2),
tm AS (SELECT y, x, avg(val) AS mval FROM cube GROUP BY y, x)
SELECT sl.x AS d0, sl.y AS d1, sl.val AS v_slice,
       {SR('tm.mval', 6)} AS v_tmean
FROM sl JOIN tm ON tm.y = sl.y AND tm.x = sl.x"""


@register("mdim_translate", _sql_mdim())
def q_mdim_translate(spark, sf_dir):
    """gdalmdimtranslate view gate over a (t=4, y=32, x=32) cube: slice
    t=2 (dimension dropped), transpose (y,x)→(x,y) (pure projection), and
    a mean reduction over t — joined on the surviving dims.  Slice and
    transpose are zero-shuffle; the reduce is one partial aggregate."""
    cube = spark.range(_MD_T * _MD_N * _MD_N).select(
        (F.col("id") / (_MD_N * _MD_N)).cast("long").alias("t"),
        ((F.col("id") / _MD_N) % _MD_N).cast("long").alias("y"),
        (F.col("id") % _MD_N).alias("x"),
    ).withColumn(
        "val",
        (F.col("t") * 17 + (F.col("x") * F.col("x")) % 31
         + (F.col("y") * 5) % 23).cast("double"),
    )
    sl = MD.md_transpose(MD.md_slice(cube, {"t": 2}), ["x", "y"])
    tm = MD.md_reduce(cube, over=["t"], how="mean")
    return (
        sl.withColumnRenamed("val", "v_slice")
        .join(tm.withColumnRenamed("val", "mval"), ["x", "y"])
        .select(
            F.col("x").alias("d0"), F.col("y").alias("d1"),
            "v_slice", R(F.col("mval"), 6).alias("v_tmean"),
        )
    )


# ===========================================================================
# KML driver (OGC KML 2.2; ogr/ogrsf_frmts/kml/) + ST_Azimuth (PostGIS
# dialect reach + the geodesy forward azimuth)
# ===========================================================================


@register("kml_roundtrip", _FMT_POINTS_ORACLE)
def q_kml_roundtrip(spark, sf_dir):
    """KML driver gate: orders point layer → per-partition KML documents
    (Placemark + ExtendedData, shortest-roundtrip decimal coordinates) →
    namespace-aware ElementTree scan, one task per document.  Doubles
    survive the text container bit-exactly."""
    import tempfile

    from gdal_spark.sources import kml as KML

    d = tempfile.mkdtemp(prefix="gdalspark_kml_gate_")
    pts = _fmt_points(spark, sf_dir)
    KML.write_point_kmls(
        pts, d, "lon", "lat", ["o_orderkey", "cents"], num_files=8)
    back = KML.read_point_kmls(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


_TWO_PI = repr(2.0 * 3.141592653589793)


def _sql_azimuth() -> str:
    lon1, lat1 = sql_lon("o_orderkey"), sql_lat("o_orderkey")
    lon2, lat2 = sql_lon("o_orderkey + 1"), sql_lat("o_orderkey + 1")
    planar = f"atan2(({lon2}) - ({lon1}), ({lat2}) - ({lat1}))"
    sph = (
        f"atan2(sin(radians(({lon2}) - ({lon1}))) * cos(radians({lat2})), "
        f"cos(radians({lat1})) * sin(radians({lat2})) "
        f"- sin(radians({lat1})) * cos(radians({lat2})) "
        f"* cos(radians(({lon2}) - ({lon1}))))"
    )
    norm_p = f"CASE WHEN ({planar}) < 0 THEN ({planar}) + {_TWO_PI} ELSE ({planar}) END"
    norm_s = f"CASE WHEN ({sph}) < 0 THEN ({sph}) + {_TWO_PI} ELSE ({sph}) END"
    return f"""SELECT o_orderkey, {SR(norm_p, 9)} AS az_planar,
       {SR(norm_s, 9)} AS az_sphere
FROM orders WHERE o_orderkey % 5 = 0"""


@register("geom_azimuth", _sql_azimuth())
def q_geom_azimuth(spark, sf_dir):
    """ST_Azimuth both ways: PLANAR (PostGIS atan2(dx, dy), clockwise from
    north, normalized [0, 2pi)) and SPHERICAL forward azimuth (the geodesy
    formula OGR exposes through geod_inverse) between each point and its
    key-successor.  Pure column math, map-only."""
    o = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 5 == 0).select("o_orderkey")
    lon1, lat1 = derived_lon(F.col("o_orderkey")), derived_lat(F.col("o_orderkey"))
    lon2 = derived_lon(F.col("o_orderkey") + 1)
    lat2 = derived_lat(F.col("o_orderkey") + 1)
    two_pi = F.lit(2.0 * 3.141592653589793)
    planar = F.atan2(lon2 - lon1, lat2 - lat1)
    sph = F.atan2(
        F.sin(F.radians(lon2 - lon1)) * F.cos(F.radians(lat2)),
        F.cos(F.radians(lat1)) * F.sin(F.radians(lat2))
        - F.sin(F.radians(lat1)) * F.cos(F.radians(lat2))
        * F.cos(F.radians(lon2 - lon1)),
    )
    return o.select(
        "o_orderkey",
        R(F.when(planar < 0, planar + two_pi).otherwise(planar), 9)
        .alias("az_planar"),
        R(F.when(sph < 0, sph + two_pi).otherwise(sph), 9)
        .alias("az_sphere"),
    )


# ===========================================================================
# Arc/Info ASCII Grid driver (frmts/aaigrid/aaigriddataset.cpp)
# ===========================================================================


def _sql_aaigrid() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i),
px AS (SELECT gx.i AS x, gy.i AS y FROM g gx CROSS JOIN g gy
       WHERE (gx.i * 7 + gy.i * 11) % 13 <> 0),
v AS (SELECT x, y, {_dem_pix('x', 'y')} AS val FROM px)
SELECT (y // 32)::bigint AS band,
       sum(val * (1 + (x * 5 + y * 3) % 17))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band"""


@register("aaigrid_roundtrip", _sql_aaigrid())
def q_aaigrid_roundtrip(spark, sf_dir):
    """AAIGrid driver gate: the DEM with punched NODATA holes written as 8
    per-block .asc grids (lower-left-corner georeferencing), read back
    one-task-per-file; NODATA cells must vanish on read (the count pins
    it).  Integer values survive the text container exactly."""
    import tempfile

    from gdal_spark.sources import aaigrid as AAG

    d = tempfile.mkdtemp(prefix="gdalspark_aai_gate_")
    cells = _dem_cells(spark, _GT_W).filter(
        (F.col("gx") * 7 + F.col("gy") * 11) % 13 != 0)
    AAG.write_cell_aaigrids(cells, d, width=_GT_W, height=_GT_W,
                            block_rows=16)
    back = AAG.read_aaigrids(spark, d)
    return back.groupBy((F.col("gy") / 32).cast("long").alias("band")).agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


# ===========================================================================
# MBTiles driver (frmts/mbtiles/; public mbtiles-spec 1.3): the SQLite
# tile-pyramid container, TMS row flip pinned byte-for-byte.
# ===========================================================================


def _mbtiles_golden_rows() -> list[tuple]:
    """Local numpy mirror of the z0+z1 pyramid PNGs (autotest inline-
    checksum style, same machinery as _png_golden_rows)."""
    import hashlib

    from gdal_spark.functions import png as PNGF

    ts = _RB_TS
    rows = []
    for zdst in (0, 1):
        r = 1 << (_RB_ZSRC - zdst)
        w = ts * r
        for ty in range(1 << zdst):
            for tx in range(1 << zdst):
                yy, xx = np.mgrid[0:w, 0:w]
                src = TL.pixel_value(tx * w + xx, ty * w + yy, 1)
                img = PNGF.quantize_u8(
                    src.reshape(ts, r, ts, r).mean(axis=(1, 3)))
                png = PNGF.encode_png_gray8(img)
                rows.append(
                    (zdst, tx, ty, hashlib.md5(png).hexdigest(), len(png)))
    return rows


def _sql_mbtiles() -> str:
    vals = ", ".join(
        f"({z}, {tx}, {ty}, '{md5}', {ln}, 'png')"
        for z, tx, ty, md5, ln in _mbtiles_golden_rows()
    )
    return (
        "SELECT zoom, tx, ty, png_md5, png_len, fmt FROM (VALUES "
        + vals + ") AS t(zoom, tx, ty, png_md5, png_len, fmt)"
    )


@register("mbtiles_pyramid", _sql_mbtiles())
def q_mbtiles_pyramid(spark, sf_dir):
    """MBTiles gate: render the z0+z1 pyramid from the z3 synthetic base
    (distributed render + PNG encode), write one .mbtiles (bounded
    driver insert — a pyramid's TILE LIST is metadata-scale; pixel work
    stayed distributed), read it back via executor-side sqlite
    deserialize.  tile_row is stored TMS-flipped per the spec and
    unflipped on read — a flip bug mismatches every y>0 tile's md5."""
    import hashlib
    import tempfile

    import pandas as pd

    from gdal_spark.functions import png as PNGF
    from gdal_spark.sources import mbtiles as MBT

    rendered = []
    for zdst in (0, 1):
        base = TL.synthetic_raster(
            spark, zoom=_RB_ZSRC, bands=1, tile_size=_RB_TS,
            tx_range=(0, 7), ty_range=(0, 7),
        )
        out = TL.render_base_tiles(base, _RB_ZSRC, zdst, "average", _RB_TS)

        def enc(batches, _z=zdst):
            for pdf in batches:
                recs = []
                for tx, ty, data in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                    img = PNGF.quantize_u8(
                        np.asarray(data, dtype=np.float64)
                        .reshape(_RB_TS, _RB_TS))
                    recs.append({
                        "zoom": _z, "tx": int(tx), "ty": int(ty),
                        "png": PNGF.encode_png_gray8(img),
                    })
                yield pd.DataFrame(
                    recs, columns=["zoom", "tx", "ty", "png"])

        rendered.append(out.mapInPandas(
            enc, "zoom long, tx long, ty long, png binary"))
    tiles_df = rendered[0].unionAll(rendered[1])
    tiles = [
        (int(r["zoom"]), int(r["tx"]), int(r["ty"]), bytes(r["png"]))
        for r in tiles_df.collect()
    ]
    path = tempfile.mkdtemp(prefix="gdalspark_mbt_gate_") + "/pyr.mbtiles"
    MBT.write_mbtiles(tiles, path)
    back = MBT.read_mbtiles(spark, path)

    def dig(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "zoom": pdf["zoom"], "tx": pdf["tx"], "ty": pdf["ty"],
                "png_md5": [hashlib.md5(bytes(b)).hexdigest()
                            for b in pdf["tile_data"]],
                "png_len": [len(bytes(b)) for b in pdf["tile_data"]],
                "fmt": pdf["fmt"],
            })

    return back.mapInPandas(
        dig,
        "zoom long, tx long, ty long, png_md5 string, png_len long, "
        "fmt string")


# ===========================================================================
# GPX driver (ogr/ogrsf_frmts/gpx/ogrgpxlayer.cpp)
# ===========================================================================


@register("gpx_roundtrip", _FMT_POINTS_ORACLE)
def q_gpx_roundtrip(spark, sf_dir):
    """GPX driver gate: orders point layer → per-partition GPX 1.1
    waypoint documents (lat/lon attributes, integer payload in
    <extensions> — ogrgpxlayer.cpp WriteFeatureAttributes mapping) →
    namespace-aware ElementTree scan, one task per document.  Doubles
    survive the text container bit-exactly via shortest-roundtrip repr."""
    import tempfile

    from gdal_spark.sources import gpx as GPX

    d = tempfile.mkdtemp(prefix="gdalspark_gpx_gate_")
    pts = _fmt_points(spark, sf_dir)
    GPX.write_point_gpx(
        pts, d, "lon", "lat", ["o_orderkey", "cents"], num_files=8)
    back = GPX.read_point_gpx(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


# ===========================================================================
# pct2rgb — palette expansion (swig/python/gdal-utils pct2rgb.py; the
# inverse of rgb2pct's color table)
# ===========================================================================

_PCT_N = 16  # palette entries for the pct2rgb gate


def _pct_palette() -> "np.ndarray":
    idx = np.arange(_PCT_N, dtype=np.int64)
    return np.stack([(idx * 37 + 11) % 256, (idx * 59 + 5) % 256,
                     (idx * 83 + 2) % 256], axis=1)


def _sql_pct2rgb() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, 63)) AS i),
px AS (SELECT gx.i AS x, gy.i AS y, (gx.i * 7 + gy.i * 11) % {_PCT_N} AS idx
       FROM g gx CROSS JOIN g gy)
SELECT (y // 16)::bigint AS band,
       sum(((idx * 37 + 11) % 256) * (1 + (x + y) % 9))::bigint AS dig_r,
       sum(((idx * 59 + 5) % 256) * (1 + (x + y) % 9))::bigint AS dig_g,
       sum(((idx * 83 + 2) % 256) * (1 + (x + y) % 9))::bigint AS dig_b,
       count(*)::bigint AS n
FROM px GROUP BY band"""


@register("raster_pct2rgb", _sql_pct2rgb())
def q_raster_pct2rgb(spark, sf_dir):
    """pct2rgb gate: 64x64 paletted raster expanded to RGB through a
    16-entry color table via element_at over array LITERALS — map-only,
    whole-stage codegen, zero shuffle before the digest agg (the exact
    inverse of raster_rgb2pct's assignment step).  The oracle recomputes
    the expansion from the palette's closed form and never sees the
    table."""
    from gdal_spark.operators import quantize as QZ

    px = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    ).withColumn("pct_idx", (F.col("x") * 7 + F.col("y") * 11) % _PCT_N)
    rgb = QZ.pct2rgb(px, _pct_palette())
    wgt = 1 + (F.col("x") + F.col("y")) % 9
    return rgb.groupBy((F.col("y") / 16).cast("long").alias("band")).agg(
        F.sum(F.col("r") * wgt).alias("dig_r"),
        F.sum(F.col("g") * wgt).alias("dig_g"),
        F.sum(F.col("b") * wgt).alias("dig_b"),
        F.count(F.lit(1)).alias("n"),
    )


# ===========================================================================
# PNG raster driver (frmts/png/pngdataset.cpp): full filter set, world-file
# georeferencing, distributed sink/scan
# ===========================================================================


def _sql_png_raster() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i),
px AS (SELECT gx.i AS x, gy.i AS y FROM g gx CROSS JOIN g gy),
v AS (SELECT x, y, {_dem_pix('x', 'y')} AS val FROM px)
SELECT (y // 32)::bigint AS band,
       sum(val * (1 + (x * 3 + y * 5) % 11))::bigint AS digest,
       count(*)::bigint AS n, min(val)::bigint AS vmin,
       max(val)::bigint AS vmax
FROM v GROUP BY band"""


@register("png_raster_roundtrip", _sql_png_raster())
def q_png_raster_roundtrip(spark, sf_dir):
    """PNG raster driver gate: the 128x128 closed-form DEM (values < 256 —
    the Byte band type) written as 8 grayscale PNGs of 16 rows each with
    a pinned row%5 filter schedule (every PNG 1.2 filter type on the
    wire) + .wld world-file sidecars, read back one task per file with
    full unfiltering and GLOBAL pixel coords recovered from each world
    file.  Digest is a position-weighted integer sum per 32-row band;
    the oracle recomputes it from the DEM formula and never sees a
    file."""
    import tempfile

    from gdal_spark.sources import png_raster as PR

    d = tempfile.mkdtemp(prefix="gdalspark_png_gate_")
    cells = _dem_cells(spark, _GT_W)
    PR.write_cell_pngs(cells, d, width=_GT_W, height=_GT_W, block_rows=16)
    back = PR.read_pngs(spark, d)
    return back.groupBy((F.col("gy") / 32).cast("long").alias("band")).agg(
        F.sum(F.col("val") * (1 + (F.col("gx") * 3 + F.col("gy") * 5) % 11))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
        F.min("val").alias("vmin"),
        F.max("val").alias("vmax"),
    )


# ===========================================================================
# VRT virtual mosaic (frmts/vrt/vrtdataset.cpp; gdalbuildvrt output)
# ===========================================================================


def _sql_vrt() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i),
px AS (SELECT gx.i AS x, gy.i AS y FROM g gx CROSS JOIN g gy
       WHERE gx.i >= 2 AND gx.i < 126
         AND gy.i % 16 >= 1 AND gy.i % 16 < 15),
v AS (SELECT x, y, {_dem_pix('x', 'y')} AS raw FROM px WHERE {_dem_pix('x', 'y')} <> 7)
SELECT count(*)::bigint AS n,
       {SR('sum((raw * 0.5 + 0.25) * (1 + (x * 3 + y * 7) % 13))', 6)} AS digest,
       {SR('min(raw * 0.5 + 0.25)', 6)} AS vmin,
       {SR('max(raw * 0.5 + 0.25)', 6)} AS vmax
FROM v"""


@register("vrt_mosaic", _sql_vrt())
def q_vrt_mosaic(spark, sf_dir):
    """VRT driver gate: the 128x128 DEM written as 8 strip GeoTIFFs, then
    mosaicked back through a gdalbuildvrt-style VRTDataset of EIGHT
    ComplexSources — each with a SrcRect CROP (2-px left margin, 1-px
    top/bottom margins), a DstRect translation, dyadic ScaleRatio 0.5 /
    ScaleOffset 0.25, and NODATA=7 punched on the RAW value (masked
    pixels vanish from the long-form table, vrtsources.cpp semantics).
    Evaluation is one task per source; the XML never leaves the driver
    and no pixel passes through it.  The oracle replays crop + punch +
    rescale from the closed form and never sees a file."""
    import tempfile

    from gdal_spark.sources import vrt as VRT

    d = tempfile.mkdtemp(prefix="gdalspark_vrt_gate_")
    cells = _dem_cells(spark, _GT_W)
    GT.write_cell_geotiffs(cells, d, width=_GT_W, height=_GT_W,
                           block_rows=16, dtype="int32")
    sources = [
        {"filename": f"block-{blk:05d}.tif",
         "src_rect": (2, 1, 124, 14),
         "dst_rect": (2, blk * 16 + 1, 124, 14),
         "scale_ratio": 0.5, "scale_offset": 0.25, "nodata": 7.0}
        for blk in range(8)
    ]
    xml = VRT.build_vrt(_GT_W, _GT_W,
                        (10.0, 1.0 / 1024, 0.0, 50.0, 0.0, -1.0 / 1024),
                        sources)
    with open(f"{d}/mosaic.vrt", "wb") as fh:
        fh.write(xml)
    back = VRT.read_vrt(spark, f"{d}/mosaic.vrt")
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        R(F.sum(F.col("val")
                * (1 + (F.col("gx") * 3 + F.col("gy") * 7) % 13)), 6)
        .alias("digest"),
        R(F.min("val"), 6).alias("vmin"),
        R(F.max("val"), 6).alias("vmax"),
    )


# ===========================================================================
# Geometry transforms: swapXY / flattenTo2D / forceToMulti
# (ogrpoint.cpp swapXY, OGR_G_FlattenTo2D, ogrgeometryfactory.cpp
# forceToMultiPoint)
# ===========================================================================


def _sql_geom_transforms() -> str:
    return f"""SELECT o_orderkey,
       1001::bigint AS t_swap, 1::bigint AS t_flat, 4::bigint AS t_multi,
       {SR(sql_lat('o_orderkey'), 6)} AS x_out,
       {SR(sql_lon('o_orderkey'), 6)} AS y_out,
       (o_orderkey % 100)::bigint AS z_in
FROM orders WHERE o_orderkey % 3 = 0"""


@register("geom_transforms", _sql_geom_transforms())
def q_geom_transforms(spark, sf_dir):
    """Geometry-transform chain at the WKB level: each order geotag as a
    POINT Z (ISO 1001) → swapXY (Z rides along; type stays 1001) →
    flattenTo2D (type 1, Z dropped) → forceToMultiPoint (type 4).  The
    gate surfaces each stage's raw WKB type word plus the final
    coordinates, proving the transforms compose through the codec; the
    oracle pins the ISO type codes and recomputes the swapped coordinates
    from the geotag closed form."""
    from typing import Iterator

    import pandas as pd

    pts = order_points(spark, sf_dir).filter(
        F.col("o_orderkey") % 3 == 0).select("o_orderkey", "lon", "lat")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"o_orderkey": [], "t_swap": [], "t_flat": [],
                    "t_multi": [], "x_out": [], "y_out": [], "z_in": []}
            for k, lon, lat in zip(pdf["o_orderkey"], pdf["lon"],
                                   pdf["lat"]):
                z = float(int(k) % 100)
                swapped = G.wkb_swap_xy(G.wkb_point_z(lon, lat, z))
                flat = G.wkb_flatten_2d(swapped)
                multi = G.wkb_force_multi(flat)
                x, y = G.parse_wkb(flat)[1]
                rows["o_orderkey"].append(int(k))
                rows["t_swap"].append(G.wkb_geom_type(swapped))
                rows["t_flat"].append(G.wkb_geom_type(flat))
                rows["t_multi"].append(G.wkb_geom_type(multi))
                rows["x_out"].append(x)
                rows["y_out"].append(y)
                rows["z_in"].append(int(G.parse_wkb(swapped)[1][2]))
            yield pd.DataFrame(rows)

    out = pts.mapInPandas(
        run,
        "o_orderkey long, t_swap long, t_flat long, t_multi long, "
        "x_out double, y_out double, z_in long")
    return out.select(
        "o_orderkey", "t_swap", "t_flat", "t_multi",
        R("x_out", 6).alias("x_out"), R("y_out", 6).alias("y_out"), "z_in")


# ===========================================================================
# ST_Subdivide (PostGIS dialect reach; lwgeom_subdivide semantics)
# ===========================================================================

_SUB_N = 24   # star vertices (25 with closure) per input polygon
_SUB_POLYS = 30


def _sql_subdivide() -> str:
    # Closed-form star polygons: vertex i of star s at angle i*pi/12,
    # radius 0.5*(1 + ((s*7 + i) % 5)/10).  Shoelace area in SQL must
    # equal the engine's post-subdivision part-area sum.
    def _vx(k: str) -> str:
        return (f"( (s * 37) % 160 - 80 + 0.5 * (1 + ((s * 7 + {k}) % 5)"
                f" / 10.0) * cos({k} * (pi() / 12.0)) )")

    def _vy(k: str) -> str:
        return (f"( (s * 23) % 100 - 50 + 0.5 * (1 + ((s * 7 + {k}) % 5)"
                f" / 10.0) * sin({k} * (pi() / 12.0)) )")

    vx, vy, vx2, vy2 = _vx("i"), _vy("i"), _vx("j"), _vy("j")
    return f"""WITH ss AS (SELECT unnest(generate_series(0, {_SUB_POLYS - 1})) AS s),
ii AS (SELECT unnest(generate_series(0, {_SUB_N - 1})) AS i),
e AS (SELECT s, i, (i + 1) % {_SUB_N} AS j FROM ss CROSS JOIN ii),
t AS (SELECT s, {vx} * {vy2} - {vx2} * {vy} AS cr FROM e)
SELECT s::bigint AS poly_id,
       {SR('abs(sum(cr)) * 0.5', 6)} AS area_total,
       TRUE AS within_limit
FROM t GROUP BY s"""


@register("st_subdivide", _sql_subdivide())
def q_st_subdivide(spark, sf_dir):
    """ST_Subdivide gate: 30 concave 24-vertex star polygons recursively
    bbox-halved until every part has <= 8 vertices (driver-paced rounds,
    O(log n) depth, one mapInPandas pass per round).  The gate checks the
    conservation invariant — the PART-AREA SUM equals the original
    shoelace area, which the oracle recomputes from the star's closed
    form — plus an engine-measured within-limit flag the oracle pins
    TRUE."""
    import math
    from typing import Iterator

    import pandas as pd

    from gdal_spark.operators.subdivide import subdivide

    base = spark.range(_SUB_POLYS).select(F.col("id").alias("s"))

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rings = [], []
            for s in pdf["s"]:
                s = int(s)
                cx, cy = (s * 37) % 160 - 80, (s * 23) % 100 - 50
                i = np.arange(_SUB_N, dtype=np.float64)
                r = 0.5 * (1 + ((s * 7 + np.arange(_SUB_N)) % 5) / 10.0)
                ang = i * (math.pi / 12.0)
                xs = cx + r * np.cos(ang)
                ys = cy + r * np.sin(ang)
                ring = np.stack([xs, ys], axis=1)
                ring = np.vstack([ring, ring[:1]])
                ids.append(s)
                rings.append([[list(p) for p in ring]])
            yield pd.DataFrame({
                "poly_id": pd.Series(ids, dtype="int64"),
                "rings": pd.Series(rings, dtype="object"),
            })

    polys = base.mapInPandas(
        build, "poly_id long, rings array<array<array<double>>>")
    parts = subdivide(polys, max_vertices=8)

    def area_of(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "poly_id": pdf["id"].astype("int64"),
                "part_area": [
                    G.rings_area(G.rings_to_numpy(r)) for r in pdf["rings"]],
                "ok": [int(v) <= 8 for v in pdf["n_verts"]],
            })

    out = parts.mapInPandas(
        area_of, "poly_id long, part_area double, ok boolean")
    return out.groupBy("poly_id").agg(
        R(F.sum("part_area"), 6).alias("area_total"),
        F.min("ok").alias("within_limit"),
    )


# ===========================================================================
# ogr2ogr conversion facade (apps/ogr2ogr_lib.cpp): read one format,
# -where filter, -t_srs reproject, write another format, re-read
# ===========================================================================


def _sql_ogr2ogr() -> str:
    lon, lat = sql_lon("o_orderkey"), sql_lat("o_orderkey")
    mx = f"({lon}) * (20037508.342789244 / 180.0)"
    my = (f"ln(tan((90.0 + ({lat})) * (pi() / 360.0))) / (pi() / 180.0)"
          f" * (20037508.342789244 / 180.0)")
    return f"""SELECT o_orderkey,
       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
       {SR(mx, 3)} AS mx, {SR(my, 3)} AS my
FROM orders
WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % 2 = 0"""


@register("ogr2ogr_convert", _sql_ogr2ogr())
def q_ogr2ogr_convert(spark, sf_dir):
    """ogr2ogr facade gate — the reference's single most common workflow
    (apps/ogr2ogr_lib.cpp): Shapefile source → ``-where`` attribute
    filter (even cents) → ``-t_srs EPSG:3857`` point reprojection
    (gdal2tiles LatLonToMeters, exact forward Mercator) → GeoPackage sink
    → re-read.  Every stage is the DISTRIBUTED driver path (one task per
    file both directions); coordinates ride .shp binary doubles then GPKG
    WKB blobs bit-exactly, so only the final display rounding appears."""
    import tempfile

    from gdal_spark.sources import gpkg as GPKG
    from gdal_spark.sources import shapefile as SHP

    d_src = tempfile.mkdtemp(prefix="gdalspark_o2o_src_")
    d_dst = tempfile.mkdtemp(prefix="gdalspark_o2o_dst_")
    pts = _fmt_points(spark, sf_dir)
    SHP.write_point_shapefiles(
        pts, d_src, "lon", "lat",
        [("o_orderkey", 12), ("cents", 12)], num_files=8)

    src = SHP.read_point_shapefiles(spark, d_src, ["o_orderkey", "cents"])
    filtered = src.filter(F.col("cents") % 2 == 0)
    mx, my = TM.lonlat_to_meters(F.col("x"), F.col("y"))
    reproj = filtered.select(
        "o_orderkey", "cents", mx.alias("mx"), my.alias("my"))

    GPKG.write_point_gpkgs(
        reproj, d_dst, "mx", "my", ["o_orderkey", "cents"], num_files=8)
    back = GPKG.read_point_gpkgs(spark, d_dst, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 3).alias("mx"), R(F.col("y"), 3).alias("my"))


# ===========================================================================
# Bigram LM counts with Kneser-Ney continuation counts (Kneser & Ney 1995)
# ===========================================================================


def _sql_bigram_kn() -> str:
    return """WITH t AS (
  SELECT string_split_regex(trim(text), ' +') AS toks FROM documents),
pairs AS (
  SELECT unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS pr
  FROM t WHERE len(toks) >= 2),
bg AS (SELECT pr[1] AS w1, pr[2] AS w2, count(*)::bigint AS cnt
       FROM pairs GROUP BY 1, 2),
cont AS (SELECT w2, count(*)::bigint AS cont_w2 FROM bg GROUP BY w2),
tot AS (SELECT count(*)::bigint AS n_distinct FROM bg)
SELECT bg.w1 || ' ' || bg.w2 AS bg, bg.cnt, cont.cont_w2,
       ((cont.cont_w2 * 1000000) // (SELECT n_distinct FROM tot))::bigint
         AS pcont_micro
FROM bg JOIN cont USING (w2)
ORDER BY bg.cnt DESC, bg.w1 || ' ' || bg.w2 ASC LIMIT 25"""


@register("text_bigram_kn", _sql_bigram_kn())
def q_text_bigram_kn(spark, sf_dir):
    """Distributed bigram counting + Kneser-Ney continuation counts over
    the documents corpus: JVM HOF bigram explode (map-only), ONE
    partial-agg shuffle on the pair, vocabulary-bounded continuation
    aggregate over the distinct-pair table, broadcast scalar total,
    integer-exact micro-quantized P_cont, TakeOrdered top-25."""
    docs = _read(spark, sf_dir, "documents")
    return T.bigram_kn_counts(docs, top_k=25)


# ===========================================================================
# 8-connectedness region labeling (gdal_polygonize -8 / GDALSieveFilter
# connectedness=8; alg/polygonize.cpp:40 nConnectedness)
# ===========================================================================

_C8_W = 24


def _sql_polygonize_8() -> str:
    return f"""WITH RECURSIVE g AS (
  SELECT unnest(generate_series(0, {_C8_W - 1})) AS i),
cells AS (
  SELECT gx.i AS x, gy.i AS y,
         (((gx.i * gx.i + 3 * gy.i + (gx.i * gy.i) // 5) % 7) // 3) AS val
  FROM g gx CROSS JOIN g gy),
c2 AS (SELECT y * {_C8_W} + x AS id, x, y, val FROM cells),
e AS (
  SELECT a.id AS src, b.id AS dst FROM c2 a JOIN c2 b
  ON abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1
     AND (a.x <> b.x OR a.y <> b.y) AND a.val = b.val),
r AS (
  SELECT id, id AS lbl FROM c2
  UNION
  SELECT e.dst AS id, r.lbl FROM r JOIN e ON e.src = r.id),
lab AS (SELECT id, min(lbl) AS region_id FROM r GROUP BY id)
SELECT region_id, min(val)::bigint AS val, count(*)::bigint AS n_cells,
       min(x)::bigint AS min_x, max(x)::bigint AS max_x,
       min(y)::bigint AS min_y, max(y)::bigint AS max_y
FROM lab JOIN c2 USING (id) GROUP BY region_id"""


@register("polygonize_8connected", _sql_polygonize_8())
def q_polygonize_8connected(spark, sf_dir):
    """8-CONNECTED region labeling — the ``gdal_polygonize -8`` /
    ``GDALSieveFilter(connectedness=8)`` option (alg/polygonize.cpp:40):
    diagonal same-value neighbors merge.  The fixture raster yields 52
    regions under 8-adjacency vs 223 under 4-adjacency, so a connectivity
    bug flips the whole result.  Engine: four shifted-key equi-joins
    (right/down/down-right/down-left) + pointer-jumping connected
    components; oracle: recursive-CTE transitive closure over the same
    8-neighbor edge set.  Output: per-region min-cell-id label, value,
    cell count, bbox."""
    from gdal_spark.operators.polygonize import label_regions

    g = spark.range(_C8_W * _C8_W).select(
        (F.col("id") % _C8_W).alias("gx"),
        (F.col("id") / _C8_W).cast("long").alias("gy"),
    )
    cells = g.withColumn(
        "val",
        ((F.col("gx") * F.col("gx") + 3 * F.col("gy")
          + (F.col("gx") * F.col("gy") / 5).cast("long")) % 7 / 3)
        .cast("long"),
    )
    labeled = label_regions(cells, width=_C8_W, connectedness=8)
    return labeled.groupBy("region_id").agg(
        F.min("_v").cast("long").alias("val"),
        F.count(F.lit(1)).alias("n_cells"),
        F.min("_x").cast("long").alias("min_x"),
        F.max("_x").cast("long").alias("max_x"),
        F.min("_y").cast("long").alias("min_y"),
        F.max("_y").cast("long").alias("max_y"),
    )


# ===========================================================================
# Area-weighted AVERAGE reprojection warp (gdalwarp -r average,
# alg/gdalwarpkernel.cpp GWKAverageOrModeThread, GDAL >= 3.1 weighted form)
# ===========================================================================


def _sql_warp_average() -> str:
    wx = [
        f"greatest(0.0, least(sx1, xb + {k + 1}) - greatest(sx0, xb + {k}))"
        for k in range(3)
    ]
    wy = [
        f"greatest(0.0, least(sy1, yb + {li + 1}) - greatest(sy0, yb + {li}))"
        for li in range(3)
    ]
    terms = []
    for li in range(3):
        for k in range(3):
            terms.append(
                f"wx{k} * wy{li} * {_geo_val(f'xb + {k}', f'yb + {li}')}"
            )
    num = " + ".join(terms)
    return f"""
WITH gs AS (SELECT unnest(generate_series(0, 255)) AS v),
tl AS (SELECT unnest(generate_series(1, 2)) AS v),
p AS (
  SELECT ttx.v AS tx, tty.v AS ty, gy.v AS py, gx.v AS px,
         (ttx.v * 256 + gx.v) * {_WARP_KX!r} AS sx0,
         (ttx.v * 256 + gx.v + 1) * {_WARP_KX!r} AS sx1,
         pi() * (1.0 - 2.0 * (tty.v * 256 + gy.v) / {_WARP_NPX}) AS t0,
         pi() * (1.0 - 2.0 * (tty.v * 256 + gy.v + 1) / {_WARP_NPX}) AS t1
  FROM tl ttx CROSS JOIN tl tty CROSS JOIN gs gy CROSS JOIN gs gx),
c AS (
  SELECT tx, ty, py, px, sx0, sx1,
         (90.0 - degrees(atan((exp(t0) - exp(-t0)) / 2.0)))
           / {WP.GEO_RES!r} AS sy0,
         (90.0 - degrees(atan((exp(t1) - exp(-t1)) / 2.0)))
           / {WP.GEO_RES!r} AS sy1
  FROM p),
f AS (
  SELECT tx, ty, py, px, sx0, sx1, sy0, sy1,
         floor(sx0 + 1e-10)::bigint AS xb,
         floor(sy0 + 1e-10)::bigint AS yb
  FROM c),
w AS (
  SELECT tx, ty, py, px, xb, yb,
         {wx[0]} AS wx0, {wx[1]} AS wx1, {wx[2]} AS wx2,
         {wy[0]} AS wy0, {wy[1]} AS wy1, {wy[2]} AS wy2
  FROM f),
vv AS (
  SELECT tx, ty, py, px,
         floor(({num})
               / ((wx0 + wx1 + wx2) * (wy0 + wy1 + wy2))
               * 1e6 + 0.5)::bigint AS vi
  FROM w)
SELECT tx, ty, count(*)::bigint AS n_px, sum(vi)::bigint AS val_micro_sum,
       md5(string_agg(vi::varchar, ',' ORDER BY py, px)) AS digest
FROM vv GROUP BY tx, ty"""


@register("warp_reproject_average", _sql_warp_average())
def q_warp_reproject_average(spark, sf_dir):
    """gdalwarp -r average gate over the z2 window: destination-pixel
    footprint rectangles from edge transforms, 3x3 overlap-fraction tap
    stencil, term-order-identical weighted sum on both engines, per-tile
    micro-unit digest."""
    tiles = spark.createDataFrame(
        [(tx, ty) for tx in (1, 2) for ty in (1, 2)], "tx int, ty int"
    )
    src = WP.synthetic_geo_raster(spark)
    return WP.warp_reproject_average(src, tiles, _WARP_Z)


# ===========================================================================
# GML 3.2 driver gate (ogr/ogrsf_frmts/gml/; urn axis-order handling)
# ===========================================================================


@register("gml_roundtrip", _FMT_POINTS_ORACLE)
def q_gml_roundtrip(spark, sf_dir):
    """GML driver gate: orders point layer → per-partition GML 3.2
    FeatureCollections (urn:ogc:def:crs:EPSG::4326 srsName, so <gml:pos>
    is written LATITUDE-FIRST and the reader must swap back — the GML3
    axis-order rule; a missing swap flips every pair and fails the hash)
    → namespace-aware ElementTree scan, one task per document.  Doubles
    survive the text container bit-exactly."""
    import tempfile

    from gdal_spark.sources import gml as GML

    d = tempfile.mkdtemp(prefix="gdalspark_gml_gate_")
    pts = _fmt_points(spark, sf_dir)
    GML.write_point_gmls(
        pts, d, "lon", "lat", ["o_orderkey", "cents"], num_files=8)
    back = GML.read_point_gmls(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


# ===========================================================================
# BPE tokenizer training (Sennrich et al. 2016) — distributed word-count
# pass + K driver-paced merge rounds over the vocabulary-bounded table
# ===========================================================================

_BPE_MERGES = 5
_BPE_TOPK = 20


def _sql_bpe_train() -> str:
    blocks = ["""w0 AS (
  SELECT '(' || array_to_string(string_split(w, ''), ')(') || ')(_)'
           AS repr,
         count(*)::bigint AS cnt
  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '[^a-z]+'))
          AS w
        FROM documents)
  WHERE w <> '' GROUP BY 1)"""]
    for r in range(1, _BPE_MERGES + 1):
        prev = f"w{r - 1}"
        blocks.append(f"""s{r} AS (
  SELECT repr, cnt, string_split(trim(repr, '()'), ')(') AS syms
  FROM {prev}),
p{r} AS (
  SELECT pr[1] AS a, pr[2] AS b, sum(cnt)::bigint AS pcnt
  FROM (SELECT cnt,
               unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)]))
                 AS pr
        FROM s{r} WHERE len(syms) >= 2)
  GROUP BY 1, 2),
m{r} AS (
  SELECT a, b, pcnt FROM p{r} ORDER BY pcnt DESC, a ASC, b ASC LIMIT 1),
w{r} AS (
  SELECT replace(repr, '(' || m{r}.a || ')(' || m{r}.b || ')',
                 '(' || m{r}.a || m{r}.b || ')') AS repr, cnt
  FROM {prev} CROSS JOIN m{r})""")
    merges = " UNION ALL ".join(
        f"SELECT 'merge' AS kind, {r}::bigint AS step, "
        f"a || '+' || b AS token, pcnt AS cnt FROM m{r}"
        for r in range(1, _BPE_MERGES + 1))
    return f"""WITH {', '.join(blocks)},
toks AS (
  SELECT unnest(string_split(trim(repr, '()'), ')(')) AS token, cnt
  FROM w{_BPE_MERGES}),
topt AS (
  SELECT 'token' AS kind, 0::bigint AS step, token,
         sum(cnt)::bigint AS cnt
  FROM toks GROUP BY token ORDER BY cnt DESC, token ASC LIMIT {_BPE_TOPK})
SELECT * FROM ({merges} UNION ALL SELECT * FROM topt)"""


@register("text_bpe_train", _sql_bpe_train())
def q_text_bpe_train(spark, sf_dir):
    """BPE tokenizer training over the documents corpus: one corpus-scale
    word-count shuffle, then 5 merge rounds over the vocabulary-bounded
    word table (pair-count explode → lexicographic-tie argmax → greedy
    '(a)(b)'→'(ab)' rewrite, identical non-overlapping replace semantics
    on both engines).  Output: the ordered merge table + final top-20
    token frequencies."""
    docs = _read(spark, sf_dir, "documents")
    return T.bpe_train(docs, merges=_BPE_MERGES, top_k=_BPE_TOPK)


def _sql_pii() -> str:
    email = r"[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}"
    ip = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    phone = r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}"
    return f"""WITH seeded AS (
  SELECT doc_id,
         text || CASE doc_id % 4
           WHEN 0 THEN ' contact u' || doc_id || '@mail-' || doc_id
                       || '.example.org now'
           WHEN 1 THEN ' from 10.' || doc_id % 256 || '.0.'
                       || doc_id % 100 || ' logged'
           WHEN 2 THEN ' call (555) 01' || doc_id % 10 || '-'
                       || 1000 + doc_id % 9000 || ' today'
           ELSE '' END AS t
  FROM documents)
SELECT doc_id,
       len(regexp_extract_all(t, '{email}'))::bigint AS n_email,
       len(regexp_extract_all(t, '{ip}'))::bigint AS n_ip,
       len(regexp_extract_all(t, '{phone}'))::bigint AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{email}', '|||EMAIL|||', 'g'),
           '{ip}', '|||IP|||', 'g'),
           '{phone}', '|||PHONE|||', 'g')) AS redacted_hash
FROM seeded"""


@register("text_pii_redact", _sql_pii())
def q_text_pii_redact(spark, sf_dir):
    """PII redaction gate (the Dolma/FineWeb pre-ship hygiene pass):
    synthetic emails / IPv4s / phone numbers are seeded into the
    documents deterministically (doc_id mod 4), then masked with
    sentinel tokens in the fixed email→ip→phone order.  Patterns live
    in the Java-regex ∩ RE2 common subset so the oracle applies the
    SAME strings; the md5 of the redacted text pins every replacement
    byte-exactly.  Pure JVM regexp columns — shuffle-free."""
    docs = _read(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.concat(
                F.lit(" contact u"), F.col("doc_id").cast("string"),
                F.lit("@mail-"), F.col("doc_id").cast("string"),
                F.lit(".example.org now")))
            .when(F.col("doc_id") % 4 == 1, F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
                F.lit(" logged")))
            .when(F.col("doc_id") % 4 == 2, F.concat(
                F.lit(" call (555) 01"),
                (F.col("doc_id") % 10).cast("string"), F.lit("-"),
                (1000 + F.col("doc_id") % 9000).cast("string"),
                F.lit(" today")))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = T.pii_redact(seeded, id_col="doc_id")
    return out.select(
        "doc_id", "n_email", "n_ip", "n_phone",
        F.md5(F.col("redacted")).alias("redacted_hash"),
    )


_UT_WL, _UT_PL, _UT_W, _UT_P, _UT_K = 12, 4, 200, 60, 25


def _sql_unigram_tok() -> str:
    vit = """
  SELECT w, wcnt, 0 AS pos, 0::bigint AS cost, 0 AS np, '' AS path
  FROM words
  UNION ALL
  SELECT v.w, v.wcnt, v.pos + c.plen, v.cost + c.c, v.np + 1,
         v.path || '(' || c.p || ')'
  FROM {vit} v JOIN {costs} c
    ON v.pos + c.plen <= len(v.w)
   AND substr(v.w, v.pos + 1, c.plen) = c.p"""
    best = """SELECT w, wcnt, path FROM (
  SELECT w, wcnt, path,
         row_number() OVER (PARTITION BY w ORDER BY cost, np, path) AS rn
  FROM {vit} WHERE pos = len(w)) WHERE rn = 1"""
    cnt = """SELECT p, sum(wcnt)::bigint AS cnt FROM (
  SELECT unnest(string_split(trim(path, '()'), ')(')) AS p, wcnt
  FROM {best}) GROUP BY p"""
    return f"""WITH RECURSIVE
wraw AS (SELECT unnest(string_split_regex(lower(trim(text)), '[^a-z]+'))
           AS w FROM documents),
words AS (SELECT w, count(*)::bigint AS wcnt FROM wraw
          WHERE w <> '' AND len(w) <= {_UT_WL}
          GROUP BY w ORDER BY wcnt DESC, w ASC LIMIT {_UT_W}),
gi AS (SELECT unnest(generate_series(1, {_UT_WL})) AS i),
gl AS (SELECT unnest(generate_series(1, {_UT_PL})) AS l),
subs AS (SELECT substr(w.w, gi.i, gl.l) AS p, sum(w.wcnt)::bigint AS f
         FROM words w CROSS JOIN gi CROSS JOIN gl
         WHERE gi.i + gl.l - 1 <= len(w.w)
         GROUP BY 1),
multi AS (SELECT p, f FROM subs WHERE len(p) >= 2
          ORDER BY f DESC, p ASC LIMIT {_UT_P}),
vocab AS (SELECT p, f FROM subs WHERE len(p) = 1
          UNION ALL SELECT p, f FROM multi),
tot0 AS (SELECT sum(f)::bigint AS t FROM vocab),
costs1 AS (SELECT p, len(p) AS plen,
                  (-floor(ln(f::double / (SELECT t FROM tot0)) * 1e6))
                    ::bigint AS c
           FROM vocab),
vit1 AS ({vit.format(vit='vit1', costs='costs1')}),
best1 AS ({best.format(vit='vit1')}),
cnt1 AS ({cnt.format(best='best1')}),
sm AS (SELECT v.p, len(v.p) AS plen, (coalesce(c.cnt, 0) + 1)::bigint AS f
       FROM vocab v LEFT JOIN cnt1 c ON v.p = c.p),
tot1 AS (SELECT sum(f)::bigint AS t FROM sm),
costs2 AS (SELECT p, plen,
                  (-floor(ln(f::double / (SELECT t FROM tot1)) * 1e6))
                    ::bigint AS c
           FROM sm),
vit2 AS ({vit.format(vit='vit2', costs='costs2')}),
best2 AS ({best.format(vit='vit2')}),
cnt2 AS ({cnt.format(best='best2')})
SELECT c2.p AS piece, coalesce(c1.cnt, 0)::bigint AS cnt1,
       c2.cnt AS cnt2
FROM cnt2 c2 LEFT JOIN cnt1 c1 ON c2.p = c1.p
ORDER BY cnt2 DESC, piece ASC LIMIT {_UT_K}"""


@register("text_unigram_tokenizer", _sql_unigram_tok())
def q_text_unigram_tokenizer(spark, sf_dir):
    """Unigram-LM tokenizer training (Kudo 2018 — the SentencePiece
    unigram model, the OTHER standard subword vocabulary next to
    text_bpe_train's BPE): substring seed vocab from the corpus word
    table, then two Viterbi-EM rounds — best segmentation per word under
    micro-quantized piece log-probs, Laplace-smoothed re-estimation,
    re-segment.  The bounded path lattice is enumerated EXHAUSTIVELY
    (words ≤12 chars, pieces ≤4) with winners by the integer tuple
    (cost, n_pieces, path) — a chain of broadcast equi-joins in Spark,
    a recursive CTE in DuckDB, bit-identical on both engines.  One
    corpus-scale shuffle total; EM cost is corpus-size-independent."""
    docs = _read(spark, sf_dir, "documents")
    return T.unigram_tokenizer_counts(
        docs, max_word_len=_UT_WL, max_piece_len=_UT_PL,
        top_words=_UT_W, top_pieces=_UT_P, top_k=_UT_K)


# ===========================================================================
# gdal_retile: re-block the geographic raster onto a new tile grid
# ===========================================================================

_RT_DST = 128  # dst tile edge; 1440x720 world => 12x6 grid, partial edges


def _sql_retile() -> str:
    return f"""WITH txs AS (
  SELECT unnest(generate_series(0, {WP.GEO_W // _RT_DST})) AS tx),
tys AS (SELECT unnest(generate_series(0, {WP.GEO_H // _RT_DST})) AS ty),
t AS (
  SELECT tx, ty,
         least({_RT_DST}, {WP.GEO_W} - tx * {_RT_DST}) AS tw,
         least({_RT_DST}, {WP.GEO_H} - ty * {_RT_DST}) AS th
  FROM txs CROSS JOIN tys
  WHERE tx * {_RT_DST} < {WP.GEO_W} AND ty * {_RT_DST} < {WP.GEO_H}),
p AS (SELECT tx, ty, tw, unnest(generate_series(0, th - 1)) AS py FROM t),
q AS (SELECT tx, ty, py, unnest(generate_series(0, tw - 1)) AS px FROM p),
v AS (
  SELECT tx, ty, py, px,
         ((tx * {_RT_DST} + px) * 31 + (ty * {_RT_DST} + py) * 17 + 7)
           % 256 AS val
  FROM q)
SELECT tx, ty, count(*)::bigint AS n_px, sum(val)::bigint AS val_sum,
       md5(string_agg(val::varchar, ',' ORDER BY py, px)) AS digest
FROM v GROUP BY tx, ty"""


@register("raster_retile", _sql_retile())
def q_raster_retile(spark, sf_dir):
    """gdal_retile gate: the 180-px-block geographic raster re-chunked
    onto a 128-px tile grid (12x6, partial edge tiles).  Map-only piece
    slicing + ONE shuffle on the destination key (pieces, not pixels) +
    vectorized stitch; the oracle enumerates destination pixels in closed
    form and never sees the engine's piece mechanics."""
    from gdal_spark.operators.retile import retile_blocks

    src = WP.synthetic_geo_raster(spark)
    return retile_blocks(
        src, WP.GEO_BLOCK, WP.GEO_W, WP.GEO_H, _RT_DST)


# ===========================================================================
# Training-sequence PACKING (GPT-style concat-and-chunk: concatenate docs
# in deterministic order, split every L tokens; Brown et al. 2020 App. B)
# ===========================================================================

_PACK_L = 256


def _sql_pack() -> str:
    return f"""WITH t AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(text), ' +'))::bigint AS tok
  FROM documents),
c AS (
  SELECT doc_id, source, tok,
         sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM t)
SELECT doc_id, source, tok,
       ((cum - tok) // {_PACK_L})::bigint AS seq_first,
       ((cum - 1) // {_PACK_L})::bigint AS seq_last,
       ((cum - 1) // {_PACK_L} - (cum - tok) // {_PACK_L} + 1)::bigint
         AS n_seqs
FROM c"""


@register("corpus_pack_sequences", _sql_pack())
def q_corpus_pack_sequences(spark, sf_dir):
    """Sequence PACKING for training (the GPT concat-and-chunk scheme:
    documents concatenated in deterministic (source, doc_id) order, split
    every L=256 tokens; docs spanning a boundary split across sequences).
    Per-SOURCE partitioned running sums keep the scan parallel — no
    global single-partition window; each doc reports the sequence span
    it lands in."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    tok = F.size(F.split(F.trim(F.col("text")), " +")).cast("long")
    w = (
        Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.select("doc_id", "source", tok.alias("tok")).withColumn(
        "cum", F.sum("tok").over(w)
    )
    sf_ = F.floor((F.col("cum") - F.col("tok")) / _PACK_L)
    sl_ = F.floor((F.col("cum") - 1) / _PACK_L)
    return c.select(
        "doc_id", "source", "tok",
        sf_.alias("seq_first"), sl_.alias("seq_last"),
        (sl_ - sf_ + 1).alias("n_seqs"),
    )


# ===========================================================================
# CSV driver with a WKT geometry column (ogr/ogrsf_frmts/csv/ — the
# GEOM_POSSIBLE_NAMES / "WKT" column convention) — Spark-NATIVE csv
# source/sink both directions
# ===========================================================================


@register("csv_wkt_roundtrip", _FMT_POINTS_ORACLE)
def q_csv_wkt_roundtrip(spark, sf_dir):
    """OGR CSV driver gate (ogr/ogrsf_frmts/csv/ogrcsvlayer.cpp WKT-column
    handling): the point layer serialized as CSV with a ``WKT`` geometry
    column (``POINT (lon lat)``) through Spark's NATIVE distributed csv
    sink (splittable shards, header per shard), re-read with the native
    csv source, geometry recovered by a JVM regexp parse of the WKT —
    doubles ride Java shortest-roundtrip text bit-exactly, zero Python in
    the path."""
    import tempfile

    d = tempfile.mkdtemp(prefix="gdalspark_csvwkt_")
    pts = _fmt_points(spark, sf_dir)
    out = pts.select(
        "o_orderkey", "cents",
        F.concat(
            F.lit("POINT ("), F.col("lon").cast("string"), F.lit(" "),
            F.col("lat").cast("string"), F.lit(")"),
        ).alias("WKT"),
    )
    out.repartition(8).write.mode("overwrite").option("header", True).csv(d)
    back = (
        spark.read.option("header", True)
        .schema("o_orderkey long, cents long, WKT string")
        .csv(d)
    )
    lon = F.regexp_extract("WKT", r"POINT \(([-0-9.eE]+) ", 1).cast("double")
    lat = F.regexp_extract("WKT", r" ([-0-9.eE]+)\)", 1).cast("double")
    return back.select(
        "o_orderkey", "cents",
        R(lon, 6).alias("lon"), R(lat, 6).alias("lat"),
    )


# ===========================================================================
# BPE ENCODE: apply a fixed merge table to the corpus (the inference half
# of the tokenizer; map-only chained replaces)
# ===========================================================================

_BPE_APPLY = [("e", "r"), ("e", "_"), ("t", "h"), ("th", "e_"), ("o", "n")]


def _sql_bpe_encode() -> str:
    repl = ("'(' || array_to_string(string_split(w, ''), ')(') || ')(_)'")
    for a, b in _BPE_APPLY:
        repl = f"replace({repl}, '({a})({b})', '({a}{b})')"
    return f"""WITH words AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '[^a-z]+')) AS w
  FROM documents),
enc AS (
  SELECT {repl} AS repr FROM words WHERE w <> ''),
toks AS (
  SELECT unnest(string_split(trim(repr, '()'), ')(')) AS token FROM enc)
SELECT token, count(*)::bigint AS cnt
FROM toks GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 30"""


@register("text_bpe_encode", _sql_bpe_encode())
def q_text_bpe_encode(spark, sf_dir):
    """BPE ENCODING with a fixed merge table (the inference half of the
    tokenizer — the trained merges applied in rank order, Sennrich et al.
    2016 §3): a map-only chain of non-overlapping greedy replaces over the
    '(a)(b)' symbol representation, whole-stage codegen end to end; then
    token frequencies (one partial-agg shuffle) top-30."""
    docs = _read(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(
        F.lower(F.trim(F.col("text"))), "[^a-z]+")).alias("w")
    ).filter(F.col("w") != "")
    repr_c = F.concat(
        F.lit("("), F.array_join(F.split("w", ""), ")("), F.lit(")(_)"))
    for a, b in _BPE_APPLY:
        repr_c = F.replace(repr_c, F.lit(f"({a})({b})"), F.lit(f"({a}{b})"))
    toks = words.select(repr_c.alias("repr")).select(
        F.explode(F.split(
            F.expr("trim(BOTH '()' FROM repr)"), "\\)\\(")).alias("token"))
    return (
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token")).limit(30)
    )


# ===========================================================================
# ST_GeoHash (PostGIS dialect tail; Niemeyer base-32 cell index)
# ===========================================================================


def _sql_geohash() -> str:
    from gdal_spark.spatial.geohash import sql_geohash_parts

    li, la, v, gh = sql_geohash_parts(
        sql_lon("o_orderkey"), sql_lat("o_orderkey"), precision=8)
    return f"""WITH src AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0),
q AS (SELECT o_orderkey, {li} AS li, {la} AS la FROM src),
b AS (SELECT o_orderkey, {v} AS v FROM q)
SELECT o_orderkey, {gh} AS geohash FROM b"""


@register("st_geohash", _sql_geohash())
def q_st_geohash(spark, sf_dir):
    """ST_GeoHash at precision 8 (the PostGIS dialect surface; Niemeyer
    spec): lon/lat fractions quantized to 20-bit integers, interleaved
    lon-first into a 40-bit cell id by a generated sum of bit terms,
    base-32 characters by fixed substring lookups — one whole-stage-
    codegen projection, no UDF, no shuffle."""
    from gdal_spark.spatial.geohash import geohash_encode

    o = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    lon = derived_lon(F.col("o_orderkey"))
    lat = derived_lat(F.col("o_orderkey"))
    return o.select(
        "o_orderkey", geohash_encode(lon, lat, 8).alias("geohash"))


# ===========================================================================
# kNN via HEX k-ring expansion (the north-star H3-style shape on a flat
# axial hex grid) — exact oracle shared with the other kNN gates
# ===========================================================================


@register("knn_hex_kring", _knn_oracle())
def q_knn_hex_kring(spark, sf_dir):
    """Hex-grid k-ring kNN: base points bucket to 30-degree axial hex
    cells, each query explodes its radius-14 k-ring disk (covers the
    whole populated grid at this size, so the result is exact — the same
    demo contract as the zoom-2 quadkey variant), ONE cell equi-join,
    exact great-circle refine with (dist, neighbor_id) tie-break."""
    pts = order_points(spark, sf_dir)
    queries = pts.filter(F.expr(KNN_PRED)).select(
        F.col("o_orderkey").alias("query_id"), "lon", "lat"
    )
    out = KNN.knn_hex_kring_join(
        pts, queries, k=KNN_K, ring=14, size=30.0, point_id="o_orderkey")
    return out.withColumn("dist_m", R("dist_m", 3))


# ===========================================================================
# Winnowing fingerprints (Schleimer et al. 2003, the MOSS selection rule)
# ===========================================================================


def _sql_winnowing() -> str:
    k, w, m = T.WINNOW_K, T.WINNOW_W, T.WINNOW_M
    return f"""WITH h AS (
  SELECT doc_id,
         [list_reduce(list_prepend(0::bigint,
            [ord(t[i + j])::bigint FOR j IN range(0, {k})]),
            (acc, c) -> (acc * 31 + c) % {m})
          FOR i IN range(1, greatest(len(t) - {k} + 2, 1))] AS hs
  FROM (SELECT doc_id, string_split(trim(text), '') AS t FROM documents)),
sel AS (
  SELECT doc_id,
         list_distinct([list_min(hs[j:j+{w - 1}])
                        FOR j IN range(1, greatest(len(hs) - {w} + 2, 1))])
           AS fps
  FROM h)
SELECT doc_id, len(fps)::bigint AS n_fp,
       COALESCE(list_reduce(list_prepend(0::bigint, fps),
                            (a, b) -> (a + b) % {m}), 0)::bigint AS fp_sum
FROM sel"""


@register("text_winnowing", _sql_winnowing())
def q_text_winnowing(spark, sf_dir):
    """Winnowing fingerprint gate: character-8-gram rolling hashes,
    window-6 minimum selection, distinct fingerprints per doc — count +
    order-free modular sum; shared substrings of length >= k+w-1
    guarantee shared fingerprints (the near-dup detection contract)."""
    docs = _read(spark, sf_dir, "documents")
    return T.winnowing_fingerprints(docs)


# ===========================================================================
# PageRank over a deterministic document link graph (Brin & Page 1998;
# integer micro-units make the iteration order-free on both engines)
# ===========================================================================

_PR_ITERS = 5


def _sql_pagerank() -> str:
    from gdal_spark.operators.graph import (
        PR_DAMP_DEN, PR_DAMP_NUM, PR_FLOOR, PR_ONE)

    edges = " UNION ALL ".join(
        f"SELECT doc_id AS src, (doc_id * {a} + {b}) % cnt AS dst "
        "FROM n CROSS JOIN c"
        for a, b in ((31, 7), (17, 3), (13, 11)))
    blocks = [f"""n AS (SELECT doc_id FROM documents),
c AS (SELECT count(*)::bigint AS cnt FROM n),
e AS (SELECT DISTINCT src, dst FROM ({edges}) WHERE src <> dst),
d AS (SELECT src, count(*)::bigint AS outdeg FROM e GROUP BY src),
ed AS (SELECT e.src, e.dst, d.outdeg FROM e JOIN d USING (src)),
r0 AS (SELECT doc_id AS id, {PR_ONE}::bigint AS r FROM n)"""]
    for i in range(1, _PR_ITERS + 1):
        blocks.append(f"""s{i} AS (
  SELECT ed.dst, sum(r{i - 1}.r // ed.outdeg)::bigint AS cs
  FROM ed JOIN r{i - 1} ON r{i - 1}.id = ed.src GROUP BY ed.dst),
r{i} AS (
  SELECT n.doc_id AS id,
         ({PR_FLOOR} + ({PR_DAMP_NUM} * COALESCE(s{i}.cs, 0))
            // {PR_DAMP_DEN})::bigint AS r
  FROM n LEFT JOIN s{i} ON s{i}.dst = n.doc_id)""")
    return (f"WITH {', '.join(blocks)}\n"
            f"SELECT id AS doc_id, r AS rank_micro FROM r{_PR_ITERS}")


@register("web_pagerank", _sql_pagerank())
def q_web_pagerank(spark, sf_dir):
    """PageRank (5 damped iterations, d=0.85) over the deterministic
    3-out-link document graph: per-iteration ONE integer-contribution
    shuffle + left join back to the node table; micro-unit integer
    arithmetic keeps both engines bit-identical regardless of sum
    order."""
    from gdal_spark.operators.graph import pagerank_micro

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    nodes = docs
    edges = None
    for a, b in ((31, 7), (17, 3), (13, 11)):
        part = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * a + b) % n).alias("dst"),
        )
        edges = part if edges is None else edges.unionAll(part)
    edges = edges.filter(F.col("src") != F.col("dst"))
    out = pagerank_micro(nodes, edges, iters=_PR_ITERS, id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "rank_micro")


# ===========================================================================
# Footprint warp kernel menu completion: -r sum / rms / mode
# ===========================================================================


def _sql_warp_footprint(kernel: str) -> str:
    wx = [
        f"greatest(0.0, least(sx1, xb + {k + 1}) - greatest(sx0, xb + {k}))"
        for k in range(3)
    ]
    wy = [
        f"greatest(0.0, least(sy1, yb + {li + 1}) - greatest(sy0, yb + {li}))"
        for li in range(3)
    ]
    head = f"""
WITH gs AS (SELECT unnest(generate_series(0, 255)) AS v),
tl AS (SELECT unnest(generate_series(1, 2)) AS v),
p AS (
  SELECT ttx.v AS tx, tty.v AS ty, gy.v AS py, gx.v AS px,
         (ttx.v * 256 + gx.v) * {_WARP_KX!r} AS sx0,
         (ttx.v * 256 + gx.v + 1) * {_WARP_KX!r} AS sx1,
         pi() * (1.0 - 2.0 * (tty.v * 256 + gy.v) / {_WARP_NPX}) AS t0,
         pi() * (1.0 - 2.0 * (tty.v * 256 + gy.v + 1) / {_WARP_NPX}) AS t1
  FROM tl ttx CROSS JOIN tl tty CROSS JOIN gs gy CROSS JOIN gs gx),
c AS (
  SELECT tx, ty, py, px, sx0, sx1,
         (90.0 - degrees(atan((exp(t0) - exp(-t0)) / 2.0)))
           / {WP.GEO_RES!r} AS sy0,
         (90.0 - degrees(atan((exp(t1) - exp(-t1)) / 2.0)))
           / {WP.GEO_RES!r} AS sy1
  FROM p),
f AS (
  SELECT tx, ty, py, px, sx0, sx1, sy0, sy1,
         floor(sx0 + 1e-10)::bigint AS xb,
         floor(sy0 + 1e-10)::bigint AS yb
  FROM c),
w AS (
  SELECT tx, ty, py, px, xb, yb,
         {wx[0]} AS wx0, {wx[1]} AS wx1, {wx[2]} AS wx2,
         {wy[0]} AS wy0, {wy[1]} AS wy1, {wy[2]} AS wy2
  FROM f)"""
    tail = """
SELECT tx, ty, count(*)::bigint AS n_px, sum(vi)::bigint AS val_micro_sum,
       md5(string_agg(vi::varchar, ',' ORDER BY py, px)) AS digest
FROM vv GROUP BY tx, ty"""
    if kernel in ("sum", "rms"):
        terms = []
        for li in range(3):
            for k in range(3):
                gv = _geo_val(f"xb + {k}", f"yb + {li}")
                tap = f"(({gv}) * ({gv}))" if kernel == "rms" else f"({gv})"
                terms.append(f"wx{k} * wy{li} * {tap}")
        num = " + ".join(terms)
        if kernel == "sum":
            vexpr = f"({num})"
        else:
            vexpr = (f"sqrt(({num}) / "
                     f"((wx0 + wx1 + wx2) * (wy0 + wy1 + wy2)))")
        return head + f""",
vv AS (
  SELECT tx, ty, py, px, floor({vexpr} * 1e6 + 0.5)::bigint AS vi
  FROM w)""" + tail
    # mode: per-tap total-weight argmax with smallest-value tie-break,
    # folded in the SAME sequential order as the numpy kernel
    vcols = []
    i = 0
    for li in range(3):
        for k in range(3):
            vcols.append(
                f"{_geo_val(f'xb + {k}', f'yb + {li}')} AS v{i}, "
                f"wx{k} * wy{li} AS w{i}")
            i += 1
    ws = []
    for i in range(9):
        ws.append(" + ".join(
            f"(CASE WHEN v{j} = v{i} THEN w{j} ELSE 0.0 END)"
            for j in range(9)) + f" AS ws{i}")
    fold = ["v0 AS b0v, ws0 AS b0w"]
    for i in range(1, 9):
        fold.append(
            f"CASE WHEN ws{i} > b{i - 1}w OR (ws{i} = b{i - 1}w "
            f"AND v{i} < b{i - 1}v) THEN v{i} ELSE b{i - 1}v END AS b{i}v, "
            f"CASE WHEN ws{i} > b{i - 1}w OR (ws{i} = b{i - 1}w "
            f"AND v{i} < b{i - 1}v) THEN ws{i} ELSE b{i - 1}w END AS b{i}w")
    chain = ", ".join(
        f"m{i} AS (SELECT *, {fold[i]} FROM m{i - 1})" if i else
        f"m0 AS (SELECT *, {fold[0]} FROM taps)"
        for i in range(9))
    return head + f""",
taps AS (SELECT tx, ty, py, px, {', '.join(vcols)},
         {', '.join(ws)} FROM w),
{chain},
vv AS (SELECT tx, ty, py, px, floor(b8v * 1e6 + 0.5)::bigint AS vi
       FROM m8)""" + tail


@register("warp_reproject_sum", _sql_warp_footprint("sum"))
def q_warp_reproject_sum(spark, sf_dir):
    """gdalwarp -r sum (GDAL 3.1 flux-preserving kernel): plain weighted
    footprint sum, no normalization."""
    tiles = spark.createDataFrame(
        [(tx, ty) for tx in (1, 2) for ty in (1, 2)], "tx int, ty int")
    src = WP.synthetic_geo_raster(spark)
    return WP.warp_reproject_average(src, tiles, _WARP_Z, kernel="sum")


@register("warp_reproject_rms", _sql_warp_footprint("rms"))
def q_warp_reproject_rms(spark, sf_dir):
    """gdalwarp -r rms: sqrt of the footprint-weighted mean of squares."""
    tiles = spark.createDataFrame(
        [(tx, ty) for tx in (1, 2) for ty in (1, 2)], "tx int, ty int")
    src = WP.synthetic_geo_raster(spark)
    return WP.warp_reproject_average(src, tiles, _WARP_Z, kernel="rms")


@register("warp_reproject_mode", _sql_warp_footprint("mode"))
def q_warp_reproject_mode(spark, sf_dir):
    """gdalwarp -r mode: the tap value with the largest total footprint
    weight, ties to the smallest value (the reference's ascending-
    histogram scan); the argmax fold runs in the identical sequential
    order on both engines."""
    tiles = spark.createDataFrame(
        [(tx, ty) for tx in (1, 2) for ty in (1, 2)], "tx int, ty int")
    src = WP.synthetic_geo_raster(spark)
    return WP.warp_reproject_average(src, tiles, _WARP_Z, kernel="mode")


# ===========================================================================
# HITS hubs & authorities over the same deterministic link graph
# ===========================================================================

_HITS_ITERS = 3


def _sql_hits() -> str:
    from gdal_spark.operators.graph import PR_ONE

    edges = " UNION ALL ".join(
        f"SELECT doc_id AS src, (doc_id * {a} + {b}) % cnt AS dst "
        "FROM n CROSS JOIN c"
        for a, b in ((31, 7), (17, 3), (13, 11)))
    blocks = [f"""n AS (SELECT doc_id FROM documents),
c AS (SELECT count(*)::bigint AS cnt FROM n),
e AS (SELECT DISTINCT src, dst FROM ({edges}) WHERE src <> dst),
h0 AS (SELECT doc_id AS id, {PR_ONE}::bigint AS h FROM n)"""]
    for i in range(1, _HITS_ITERS + 1):
        blocks.append(f"""a{i} AS (
  SELECT n.doc_id AS id, COALESCE(s.a, 0)::bigint AS a
  FROM n LEFT JOIN (
    SELECT e.dst, sum(h{i - 1}.h)::bigint AS a
    FROM e JOIN h{i - 1} ON h{i - 1}.id = e.src GROUP BY e.dst) s
  ON s.dst = n.doc_id),
h{i} AS (
  SELECT n.doc_id AS id, COALESCE(s.h, 0)::bigint AS h
  FROM n LEFT JOIN (
    SELECT e.src, sum(a{i}.a)::bigint AS h
    FROM e JOIN a{i} ON a{i}.id = e.dst GROUP BY e.src) s
  ON s.src = n.doc_id)""")
    return (f"WITH {', '.join(blocks)}\n"
            f"SELECT h{_HITS_ITERS}.id AS doc_id, "
            f"h{_HITS_ITERS}.h AS hub_micro, a{_HITS_ITERS}.a AS auth_micro "
            f"FROM h{_HITS_ITERS} JOIN a{_HITS_ITERS} USING (id)")


@register("web_hits", _sql_hits())
def q_web_hits(spark, sf_dir):
    """HITS hubs/authorities (3 rounds, integer micro-units, unnormalized
    for the fixed round count) over the PageRank gate's deterministic
    3-out-link graph; two integer-sum shuffles per round."""
    from gdal_spark.operators.graph import hits_micro

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = None
    for a, b in ((31, 7), (17, 3), (13, 11)):
        part = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * a + b) % n).alias("dst"),
        )
        edges = part if edges is None else edges.unionAll(part)
    edges = edges.filter(F.col("src") != F.col("dst"))
    out = hits_micro(docs, edges, iters=_HITS_ITERS, id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"),
                      "hub_micro", "auth_micro")


# ===========================================================================
# RANGE window frames (RANGE BETWEEN n PRECEDING AND n FOLLOWING — the
# value-based frame, distinct from the ROWS frames the other window gates
# exercise)
# ===========================================================================


@register(
    "sql_range_frame",
    """SELECT doc_id, source,
       sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                          RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING)
         ::bigint AS chars_pm5,
       count(*) OVER (PARTITION BY source ORDER BY doc_id
                      RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING)
         ::bigint AS docs_pm5
FROM documents""",
)
def q_sql_range_frame(spark, sf_dir):
    """Value-based RANGE window frame: per source, the character mass and
    doc count within doc_id ± 5 — the frame boundary is a VALUE offset,
    not a row offset (sparse ids make the two differ), partitioned so the
    window scan stays parallel."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source").orderBy("doc_id")
        .rangeBetween(-5, 5)
    )
    return docs.select(
        "doc_id", "source",
        F.sum("n_chars").over(w).cast("long").alias("chars_pm5"),
        F.count(F.lit(1)).over(w).cast("long").alias("docs_pm5"),
    )


# ===========================================================================
# LATERAL correlated subquery in FROM (SQL:1999 surface; Spark >= 3.2 and
# DuckDB execute the SAME text verbatim)
# ===========================================================================

_SQL_LATERAL = """SELECT o.o_orderkey, t.max_price, t.n_items
FROM orders o, LATERAL (
  SELECT max(l.l_extendedprice) AS max_price, count(*) AS n_items
  FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) t
WHERE o.o_orderkey % 50 = 0"""


@register("sql_lateral_join", _SQL_LATERAL)
def q_sql_lateral_join(spark, sf_dir):
    """LATERAL correlated subquery (the ANSI-portability family): ONE SQL
    text executed verbatim by Spark SQL and DuckDB — per-order lineitem
    aggregate through a lateral derived table; Catalyst decorrelates it
    into an aggregate + equi-join (no per-row re-execution)."""
    for t in ("orders", "lineitem"):
        _read(spark, sf_dir, t).createOrReplaceTempView(t)
    out = spark.sql(_SQL_LATERAL)
    # max of the SAME parquet doubles is bit-identical on both engines —
    # no rounding, the hash compares raw values
    return out.select(
        "o_orderkey", "max_price",
        F.col("n_items").cast("long").alias("n_items"))


# ===========================================================================
# Round-4 session-7: ANSI window-function menu, GROUPING SETS, PIVOT,
# edit-distance near-dup refine, Morton Z-order sort, ST_Affine
# ===========================================================================

_SQL_WINDOW_MENU = """SELECT doc_id,
       CAST(ntile(4) OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT)
         AS quartile,
       percent_rank() OVER (PARTITION BY lang ORDER BY doc_id) AS pct_rank,
       cume_dist() OVER (PARTITION BY lang ORDER BY doc_id) AS cume,
       lag(n_chars, 1, CAST(0 AS BIGINT))
         OVER (PARTITION BY lang ORDER BY doc_id) AS prev_chars,
       lead(n_chars, 1, CAST(0 AS BIGINT))
         OVER (PARTITION BY lang ORDER BY doc_id) AS next_chars
FROM documents"""


@register("sql_window_rank_menu", _SQL_WINDOW_MENU)
def q_sql_window_rank_menu(spark, sf_dir):
    """Ranking-window menu (ANSI-portability family — ONE SQL text verbatim
    on Spark SQL and DuckDB): ntile / percent_rank / cume_dist / lag / lead
    per language partition.  percent_rank and cume_dist are integer ratios
    of identical counts, so the doubles hash bit-identically; the window
    scan stays parallel because every function shares the lang partition
    (reference: OGR SQLite-dialect window reach, ogrsqliteexecutesql.cpp)."""
    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_SQL_WINDOW_MENU)


_SQL_GROUPING_SETS = """SELECT lang, source,
       CAST(grouping(lang) AS BIGINT) AS g_lang,
       CAST(grouping(source) AS BIGINT) AS g_source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents
GROUP BY GROUPING SETS ((lang, source), (lang), ())"""


@register("sql_grouping_sets", _SQL_GROUPING_SETS)
def q_sql_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the third grouping form next to the existing
    ROLLUP / CUBE gates; ogr_swq.cpp grouping reach) — ONE text verbatim on
    both engines, grouping() markers disambiguate real NULLs from subtotal
    rows; Catalyst expands to a single Expand + partial-agg plan (one
    shuffle)."""
    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_SQL_GROUPING_SETS)


_PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


@register(
    "sql_pivot",
    "SELECT source, "
    + ", ".join(
        f"CAST(count(*) FILTER (WHERE lang = '{lang}') AS BIGINT) AS {lang}"
        for lang in _PIVOT_LANGS
    )
    + " FROM documents GROUP BY source",
)
def q_sql_pivot(spark, sf_dir):
    """PIVOT (long→wide doc counts per source × language): Spark's
    relational pivot operator with an explicit value list (one shuffle,
    no per-value scans); the oracle is the equivalent ANSI FILTER
    aggregate.  Missing cells are 0, not NULL (count semantics)."""
    docs = _read(spark, sf_dir, "documents")
    p = docs.groupBy("source").pivot("lang", _PIVOT_LANGS).count()
    return p.select(
        "source",
        *[
            F.coalesce(F.col(lang), F.lit(0)).cast("long").alias(lang)
            for lang in _PIVOT_LANGS
        ],
    )


@register(
    "text_levenshtein",
    """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(substr(a.text, 1, 32), substr(b.text, 1, 32))
            AS BIGINT) AS lev32,
       CASE WHEN levenshtein(substr(a.text, 1, 32), substr(b.text, 1, 32))
                 <= 12 THEN 1 ELSE 0 END AS is_near
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""",
)
def q_text_levenshtein(spark, sf_dir):
    """Edit-distance near-dup refine (the verify step that follows LSH /
    SimHash candidate generation): Levenshtein over 32-char prefixes on a
    deterministic candidate pairing (consecutive doc ids — an equi-join,
    standing in for the banded-bucket join of the dedup path).  JVM
    levenshtein on both sides of a projected join; at 100 TB the pairing
    comes from LSH buckets and the refine stays this same map-only shape."""
    docs = _read(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.substring("text", 1, 32).alias("t_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"),
        F.substring("text", 1, 32).alias("t_b"),
    )
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + F.lit(1))
    out = pairs.select(
        "id_a",
        "id_b",
        F.levenshtein("t_a", "t_b").cast("long").alias("lev32"),
    )
    return out.withColumn(
        "is_near", F.when(F.col("lev32") <= 12, 1).otherwise(0).cast("long")
    )


Z_MORTON = 8


def _morton_terms(xe: str, ye: str, order: int) -> str:
    """Bit-interleave (x even bits, y odd) as one integer sum — the SAME
    expression text runs on both engines (>>, & and integer * are shared
    grammar; the sum is order-free integer math)."""
    terms = []
    for b in range(order):
        terms.append(f"((({xe}) >> {b}) & 1) * {1 << (2 * b)}")
        terms.append(f"((({ye}) >> {b}) & 1) * {1 << (2 * b + 1)}")
    return " + ".join(terms)


def _sql_morton_oracle() -> str:
    from gdal_spark.data.geotag import sql_lat as _slat, sql_lon as _slon

    tx = TM.sql_tile_x(_slon("o_orderkey"), Z_MORTON)
    ty = TM.sql_tile_y_xyz(_slat("o_orderkey"), Z_MORTON)
    return f"""WITH keyed AS (
  SELECT o_orderkey, ({tx})::bigint AS tx, ({ty})::bigint AS ty FROM orders),
m AS (
  SELECT o_orderkey, tx, ty,
         ({_morton_terms('tx', 'ty', Z_MORTON)})::bigint AS morton
  FROM keyed)
SELECT o_orderkey, tx, ty, morton,
       row_number() OVER (ORDER BY morton, o_orderkey) AS pos
FROM m ORDER BY morton, o_orderkey LIMIT 200"""


@register("sort_morton", _sql_morton_oracle())
def q_sort_morton(spark, sf_dir):
    """Morton / Z-order spatial sort key (the third curve next to the
    quadkey and Hilbert sort gates; GeoParquet/Iceberg Z-ORDER clustering
    semantics): interleave z8 tile bits as pure integer column math, rank
    via the distributed range-partition rank — no single-partition
    window, same shape as hilbert_sort."""
    from gdal_spark.operators.curve_sort import curve_rank

    pts = TL.assign_tiles(
        order_points(spark, sf_dir), Z_MORTON, with_quadkey=False
    )
    x = F.col("tx").cast("long")
    y = F.col("ty").cast("long")
    morton = F.lit(0).cast("long")
    for bit in range(Z_MORTON):
        morton = morton + (
            F.shiftright(x, bit).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * bit))
        )
        morton = morton + (
            F.shiftright(y, bit).bitwiseAND(F.lit(1))
            * F.lit(1 << (2 * bit + 1))
        )
    coded = pts.withColumn("morton", morton.cast("long"))
    ranked = curve_rank(
        coded.select("o_orderkey", "tx", "ty", "morton"),
        "morton", "o_orderkey",
    )
    return ranked.orderBy("morton", "o_orderkey").limit(200)


def _sql_affine_oracle() -> str:
    from gdal_spark.data.geotag import sql_lat as _slat, sql_lon as _slon

    lon, lat = _slon("o_orderkey"), _slat("o_orderkey")
    return f"""SELECT o_orderkey,
       0.5 * ({lon}) + 0.25 * ({lat}) + 100.0 AS ax,
       (-0.25) * ({lon}) + 2.0 * ({lat}) + (-50.0) AS ay
FROM orders WHERE o_orderkey % 10 = 0"""


@register("geom_affine", _sql_affine_oracle())
def q_geom_affine(spark, sf_dir):
    """ST_Affine / ST_TransScale (PostGIS dialect tail; OGR geometry
    transform semantics, ogrgeometry.cpp transform entry points): 2×2
    linear map + translation over point coordinates as one codegen
    projection.  Dyadic coefficients (0.5, 0.25, −0.25, 2.0) scale
    mantissas exactly and the fold order matches the oracle term-for-term,
    so the doubles hash bit-identically — no rounding."""
    pts = order_points(spark, sf_dir).filter(F.col("o_orderkey") % 10 == 0)
    ax = (
        F.lit(0.5) * F.col("lon") + F.lit(0.25) * F.col("lat")
    ) + F.lit(100.0)
    ay = (
        F.lit(-0.25) * F.col("lon") + F.lit(2.0) * F.col("lat")
    ) + F.lit(-50.0)
    return pts.select(
        "o_orderkey", ax.alias("ax"), ay.alias("ay")
    )


# ===========================================================================
# Round-4 session-8: bag set-ops, ordered string aggregation, ST_ClosestPoint
# ===========================================================================

_SQL_BAG_SET_OPS = """SELECT 'inter' AS op, lang FROM (
  SELECT lang FROM documents WHERE source = 'src0'
  INTERSECT ALL
  SELECT lang FROM documents WHERE source = 'src1') a
UNION ALL
SELECT 'except' AS op, lang FROM (
  SELECT lang FROM documents WHERE source = 'src0'
  EXCEPT ALL
  SELECT lang FROM documents WHERE source = 'src1') b"""


@register("sql_bag_set_ops", _SQL_BAG_SET_OPS)
def q_sql_bag_set_ops(spark, sf_dir):
    """INTERSECT ALL / EXCEPT ALL — BAG semantics (multiplicities kept:
    min(m, n) and greatest(m - n, 0) per value), distinct from the existing
    DISTINCT-flavored set-op gate (ogr_swq.cpp set-op reach; SQL:1999
    7.12).  ONE SQL text verbatim on Spark SQL and DuckDB; Catalyst plans
    both branches as a single hash aggregate counting per-value
    multiplicities on each side + a generate — one shuffle per branch, no
    row-by-row bag bookkeeping."""
    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_SQL_BAG_SET_OPS)


@register(
    "sql_listagg",
    """SELECT lang, source,
       string_agg(doc_id::varchar, ',' ORDER BY doc_id) AS ids,
       count(*) AS n
FROM documents WHERE doc_id % 5 = 0
GROUP BY lang, source""",
)
def q_sql_listagg(spark, sf_dir):
    """Ordered string aggregation — LISTAGG ... WITHIN GROUP (SQL:2016
    T625; the ogr_swq aggregate tail next to the existing percentile
    gates).  Spark 4's native `listagg` with a WITHIN GROUP order against
    DuckDB's ordered `string_agg`: both fold the group in doc_id order so
    the strings match byte-for-byte.  Per-(lang, source) groups keep every
    aggregation bounded and parallel; at fact scale the group-cardinality
    cap is the caller's contract (same as any collect_list-shaped op)."""
    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """SELECT lang, source,
       listagg(CAST(doc_id AS STRING), ',')
         WITHIN GROUP (ORDER BY doc_id) AS ids,
       count(*) AS n
FROM documents WHERE doc_id % 5 = 0
GROUP BY lang, source"""
    )


@register(
    "st_closest_point",
    f"""WITH pts AS ({SQL_POINTS}),
sb(line_id, seg_idx, x1, y1, x2, y2) AS ({_gridline_segment_values()}),
pr AS (
  SELECT o_orderkey, line_id, seg_idx,
         least(greatest(((lon - x1) * (x2 - x1) + (lat - y1) * (y2 - y1))
                        / ((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)),
                        0.0), 1.0) AS t,
         lon, lat, x1, y1, x2 - x1 AS dx, y2 - y1 AS dy
  FROM pts CROSS JOIN sb),
d AS (
  SELECT o_orderkey, line_id, seg_idx,
         x1 + t * dx AS qx, y1 + t * dy AS qy,
         (lon - (x1 + t * dx)) * (lon - (x1 + t * dx))
         + (lat - (y1 + t * dy)) * (lat - (y1 + t * dy)) AS d2
  FROM pr),
best AS (
  SELECT o_orderkey, line_id, seg_idx, qx, qy,
         row_number() OVER (PARTITION BY o_orderkey
                            ORDER BY d2, line_id, seg_idx) AS rn
  FROM d)
SELECT o_orderkey, line_id,
       {SR('qx', 9)} AS cx, {SR('qy', 9)} AS cy
FROM best WHERE rn = 1""",
)
def q_st_closest_point(spark, sf_dir):
    """ST_ClosestPoint (PostGIS dialect tail; OGRGeometry nearest-point
    semantics behind OGR_G_Distance, ogrgeometry.cpp:3941 family): the
    projected closest point ON the nearest gridline for every order point.
    Same broadcast clamped-projection argmin kernel as the distance gate —
    the projection coordinates come out of the IDENTICAL IEEE t-clamp
    algebra the oracle runs, so (cx, cy) round-trip bit-exactly at 9
    decimals."""
    from gdal_spark.data.pages import gridlines_df

    out = LN.point_line_distance_join(
        order_points(spark, sf_dir), gridlines_df(spark), return_point=True
    )
    return out.select(
        "o_orderkey", "line_id",
        R(F.col("cx"), 9).alias("cx"), R(F.col("cy"), 9).alias("cy"),
    )


# ===========================================================================
# Round-4 session-8 (cont.): GNM shortest path, linear referencing,
# raster blend src-over compositing
# ===========================================================================

_SP_ROUNDS = 4


def _sql_shortest_path() -> str:
    from gdal_spark.operators.graph import INF_DIST

    edges = " UNION ALL ".join(
        f"SELECT doc_id AS src, (doc_id * {a} + {b}) % cnt AS dst "
        "FROM n CROSS JOIN c"
        for a, b in ((31, 7), (17, 3), (13, 11)))
    blocks = [f"""n AS (SELECT doc_id FROM documents),
c AS (SELECT count(*)::bigint AS cnt FROM n),
e AS (SELECT DISTINCT src, dst FROM ({edges}) WHERE src <> dst),
we AS (SELECT src, dst, (1 + (src * 7 + dst * 3) % 9)::bigint AS w FROM e),
d0 AS (SELECT doc_id AS id,
              (CASE WHEN doc_id % 97 = 0 THEN 0 ELSE {INF_DIST} END)::bigint
                AS dist
       FROM n)"""]
    for i in range(1, _SP_ROUNDS + 1):
        blocks.append(f"""s{i} AS (
  SELECT we.dst, min(d{i - 1}.dist + we.w)::bigint AS cm
  FROM we JOIN d{i - 1} ON d{i - 1}.id = we.src
  WHERE d{i - 1}.dist < {INF_DIST} GROUP BY we.dst),
d{i} AS (
  SELECT d{i - 1}.id,
         least(d{i - 1}.dist, COALESCE(s{i}.cm, {INF_DIST}))::bigint AS dist
  FROM d{i - 1} LEFT JOIN s{i} ON s{i}.dst = d{i - 1}.id)""")
    return (f"WITH {', '.join(blocks)}\n"
            f"SELECT id AS doc_id, dist FROM d{_SP_ROUNDS}")


@register("network_shortest_path", _sql_shortest_path())
def q_network_shortest_path(spark, sf_dir):
    """GNM network analysis (gnmanalyse dijkstra, gnm/gnmgraph.cpp
    CGNMGraph::DijkstraShortestPath): multi-source shortest path over the
    deterministic 3-out-link document graph with integer edge weights
    1 + (7·src + 3·dst) mod 9, seeds at doc_id % 97 == 0 — 4 synchronous
    Bellman-Ford relaxation rounds (ONE min-candidate shuffle each), the
    distributed re-expression of the reference's priority-queue walk.
    Integer weights make every min/plus order-free, so the oracle chains
    the identical rounds as CTEs bit-exactly; unreachable-within-4-hops
    nodes report the shared INF sentinel."""
    from gdal_spark.operators.graph import bellman_ford_rounds

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = None
    for a, b in ((31, 7), (17, 3), (13, 11)):
        part = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * a + b) % n).alias("dst"),
        )
        edges = part if edges is None else edges.unionAll(part)
    wedges = (
        edges.filter(F.col("src") != F.col("dst")).distinct()
        .withColumn(
            "w",
            (F.lit(1) + (F.col("src") * 7 + F.col("dst") * 3) % 9)
            .cast("long"),
        )
    )
    seeds = docs.filter(F.col("doc_id") % 97 == 0)
    out = bellman_ford_rounds(
        docs, wedges, seeds, rounds=_SP_ROUNDS, id_col="doc_id")
    return out.select(F.col("id").alias("doc_id"), "dist")


@register(
    "lineref_locate",
    f"""WITH pts AS ({SQL_POINTS}),
sb(line_id, seg_idx, x1, y1, x2, y2) AS ({_line_segment_values()}),
sl AS (
  SELECT line_id, seg_idx, x1, y1,
         floor(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
               * 1000000.0 + 0.5)::bigint AS len_micro
  FROM sb),
pf AS (
  SELECT line_id, seg_idx, x1, y1,
         COALESCE(sum(len_micro) OVER (
           PARTITION BY line_id ORDER BY seg_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
           AS prefix_micro
  FROM sl),
pr AS (
  SELECT o_orderkey, line_id, seg_idx,
         least(greatest(((lon - x1) * (x2 - x1) + (lat - y1) * (y2 - y1))
                        / ((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)),
                        0.0), 1.0) AS t,
         lon, lat, x1, y1, x2 - x1 AS dx, y2 - y1 AS dy
  FROM pts CROSS JOIN sb),
d AS (
  SELECT o_orderkey, line_id, seg_idx,
         x1 + t * dx AS qx, y1 + t * dy AS qy,
         (lon - (x1 + t * dx)) * (lon - (x1 + t * dx))
         + (lat - (y1 + t * dy)) * (lat - (y1 + t * dy)) AS d2
  FROM pr),
best AS (
  SELECT o_orderkey, line_id, seg_idx, qx, qy,
         row_number() OVER (PARTITION BY o_orderkey
                            ORDER BY d2, line_id, seg_idx) AS rn
  FROM d)
SELECT b.o_orderkey, b.line_id,
       (pf.prefix_micro
        + floor(sqrt((b.qx - pf.x1) * (b.qx - pf.x1)
                     + (b.qy - pf.y1) * (b.qy - pf.y1))
                * 1000000.0 + 0.5)::bigint)::bigint AS m_micro
FROM best b JOIN pf ON pf.line_id = b.line_id AND pf.seg_idx = b.seg_idx
WHERE b.rn = 1""",
)
def q_lineref_locate(spark, sf_dir):
    """Linear referencing — locate a point ALONG a line (ogrlineref
    -get_pos, apps/ogrlineref.cpp; ST_LineLocatePoint measure semantics):
    for every order point, the arc-length measure of its projection onto
    the nearest §2e walk polyline.  Segment lengths are micro-quantized
    to integers FIRST (identical IEEE sqrt chains on both engines), so
    the per-line prefix sums are order-free integer adds — the window
    cumsum needs no cross-engine float-fold pairing.  Engine shape: the
    broadcast clamped-projection argmin kernel emits (line_id, seg_idx,
    cx, cy); a dimension-sized segment-prefix table (posexplode + lead +
    integer window cumsum) broadcast-joins the measure on."""
    from pyspark.sql import Window

    from gdal_spark.data.pages import lines_df

    segs = lines_df(spark).select(
        "line_id", F.posexplode("coords").alias("pos", "pt"))
    wl = Window.partitionBy("line_id").orderBy("pos")
    seg = (
        segs.select(
            "line_id", F.col("pos").alias("seg_idx"),
            F.col("pt")[0].alias("x1"), F.col("pt")[1].alias("y1"),
            F.lead("pt").over(wl).alias("np"))
        .filter(F.col("np").isNotNull())
        .select(
            "line_id", "seg_idx", "x1", "y1",
            F.floor(
                F.sqrt(
                    (F.col("np")[0] - F.col("x1"))
                    * (F.col("np")[0] - F.col("x1"))
                    + (F.col("np")[1] - F.col("y1"))
                    * (F.col("np")[1] - F.col("y1"))
                ) * F.lit(1000000.0) + F.lit(0.5)
            ).cast("long").alias("len_micro"))
    )
    ws = Window.partitionBy("line_id").orderBy("seg_idx") \
        .rowsBetween(Window.unboundedPreceding, -1)
    pf = seg.select(
        "line_id", "seg_idx", "x1", "y1",
        F.coalesce(F.sum("len_micro").over(ws), F.lit(0))
        .cast("long").alias("prefix_micro"))
    near = LN.point_line_distance_join(
        order_points(spark, sf_dir), lines_df(spark), return_point=True)
    out = near.join(F.broadcast(pf), ["line_id", "seg_idx"])
    resid = F.floor(
        F.sqrt(
            (F.col("cx") - F.col("x1")) * (F.col("cx") - F.col("x1"))
            + (F.col("cy") - F.col("y1")) * (F.col("cy") - F.col("y1"))
        ) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    return out.select(
        "o_orderkey", "line_id",
        (F.col("prefix_micro") + resid).cast("long").alias("m_micro"))


def _blend_core_sql() -> str:
    """Shared integer src-over compositing chain (verbatim on both engines;
    apps/gdalalg_raster_blend.cpp MulScale255 / gTabInvDstA math).  Expects
    a relation p(py, px); emits py, px, outr, outg, outb, outa."""
    def idiv(a: str, b: int) -> str:
        return f"CAST(floor(({a}) / {b}.0) AS BIGINT)"

    oa = idiv("((px * py) % 256) * 153 + 255", 256)          # opacity 60%
    st = idiv("(255 - ((px + py) % 97)) * (255 - qa) + 255", 256)
    # inverse-table divide is BY da (a variable), so it is spelled directly
    inv = ("CASE WHEN da = 0 THEN 0 "
           f"ELSE CAST(floor((65280 + CAST(floor(da / 2.0) AS BIGINT))"
           f" / da) AS BIGINT) END")
    return f"""k1 AS (
  SELECT py, px,
         (px * 7 + py * 13) % 256 AS br,
         (px * 3 + py * 5) % 256 AS bg,
         (px * 11 + py) % 256 AS bb,
         (px * 5 + py * 17) % 256 AS orr,
         (px * 13 + py * 7) % 256 AS og,
         (px + py * 19) % 256 AS ob,
         {oa} AS qa
  FROM p),
k2 AS (
  SELECT py, px, br, bg, bb, orr, og, ob, qa, {st} AS st
  FROM k1),
k3 AS (
  SELECT py, px, qa + st AS da,
         {idiv('orr * qa + br * st + 255', 256)} AS prer,
         {idiv('og * qa + bg * st + 255', 256)} AS preg,
         {idiv('ob * qa + bb * st + 255', 256)} AS preb
  FROM k2),
k4 AS (
  SELECT py, px, da, prer, preg, preb, {inv} AS inv
  FROM k3)
SELECT py, px,
       {idiv('prer * inv + 255', 256)} AS outr,
       {idiv('preg * inv + 255', 256)} AS outg,
       {idiv('preb * inv + 255', 256)} AS outb,
       CAST(da AS BIGINT) AS outa
FROM k4"""


@register(
    "raster_blend",
    f"""WITH g AS (SELECT unnest(generate_series(0, 63)) AS v),
p AS (SELECT gy.v AS py, gx.v AS px FROM g gy CROSS JOIN g gx),
{_blend_core_sql()}""",
)
def q_raster_blend(spark, sf_dir):
    """Raster blend — Porter-Duff source-over compositing of an RGBA
    overlay onto an RGBA base at 60% opacity (gdal raster blend,
    apps/gdalalg_raster_blend.cpp BlendSrcOverRGBA_Generic): the
    reference's ALL-INTEGER kernel — MulScale255 ceil-divides
    (a·b+255)/256, the premultiplied channels composite as
    (C_ov·A_ov + C_base·A_term + 255)/256, and the un-premultiply uses
    the gTabInvDstA inverse table ((255<<8)+da/2)/da with a +255 >> 8
    round — re-expressed verbatim as one whole-stage-codegen projection
    over a generated 64×64 grid (map-only; at fact scale this is a
    zip-join of two tile tables followed by the same column math)."""
    spark.sql(
        "SELECT explode(sequence(0, 63)) AS v"
    ).createOrReplaceTempView("g")
    return spark.sql(f"""WITH
p AS (SELECT gy.v AS py, gx.v AS px FROM g gy CROSS JOIN g gx),
{_blend_core_sql()}""")


# ===========================================================================
# Round-4 session-8 (cont.): invdistnn gridding, focal-neighbor stat menu
# ===========================================================================

_NN_K = 8


def _sql_grid_invdistnn() -> str:
    tx = TM.sql_tile_x("lon", Z_IDW)
    ty = TM.sql_tile_y_xyz("lat", Z_IDW)
    res = TM.resolution(Z_IDW)
    cx = f"((tx::double + 0.5) * 256.0::double * {res!r}::double - {TM.ORIGIN_SHIFT!r}::double)"
    ty_tms = f"({(1 << Z_IDW) - 1} - ty)"
    cy = f"(({ty_tms}::double + 0.5) * 256.0::double * {res!r}::double - {TM.ORIGIN_SHIFT!r}::double)"
    clon = f"(({cx}) / {TM.ORIGIN_SHIFT!r}::double * 180.0::double)"
    clat = (
        f"(180.0::double / pi() * (2.0::double * atan(exp(({cy}) / {TM.ORIGIN_SHIFT!r}::double"
        f" * 180.0::double * pi() / 180.0::double)) - pi() / 2.0::double))"
    )
    d2 = f"((lon - {clon}) * (lon - {clon}) + (lat - {clat}) * (lat - {clat}) + 1e-12)"
    fold = ("list_reduce(list_prepend(0.0::double, list({t} ORDER BY rn)), "
            "(a, b) -> a + b)")
    return f"""
WITH pts AS (SELECT o_orderkey, o_totalprice, lon, lat, {tx} AS tx, {ty} AS ty
             FROM ({SQL_POINTS})),
dv AS (SELECT o_orderkey, o_totalprice, tx, ty, {d2} AS d2v FROM pts),
rk AS (SELECT *, row_number() OVER (PARTITION BY tx, ty
                                    ORDER BY d2v, o_orderkey) AS rn
       FROM dv),
sel AS (SELECT tx, ty, rn, o_totalprice / d2v AS num_t,
               1.0::double / d2v AS den_t
        FROM rk WHERE rn <= {_NN_K}),
agg AS (SELECT tx, ty, count(*)::bigint AS n_used,
               {fold.format(t='num_t')} AS num,
               {fold.format(t='den_t')} AS den
        FROM sel GROUP BY tx, ty)
SELECT tx, ty, n_used, {SR('num / den', 6)} AS nn_price FROM agg"""


@register("grid_invdistnn", _sql_grid_invdistnn())
def q_grid_invdistnn(spark, sf_dir):
    """invdistnn gridding (alg/gdalgrid.cpp GDALGridInverseDistanceToA
    PowerNearestNeighbor, power=2, max_points=8, cell-local search
    window): per z4 tile, IDW over only the 8 NEAREST points to the tile
    center (ties broken by orderkey — the d2 doubles are bit-identical
    on both engines, so the selection matches).  The 8 weight terms are
    folded SEQUENTIALLY in rank order via an array aggregate HOF on both
    engines, so the float sums are bit-identical — no order-lottery.
    One window shuffle (per-tile rank) + one groupBy."""
    from pyspark.sql import Window

    pts = TL.assign_tiles(
        order_points(spark, sf_dir), Z_IDW, with_quadkey=False)
    res = TM.resolution(Z_IDW)
    cx = (F.col("tx").cast("double") + F.lit(0.5)) * F.lit(256.0) * F.lit(res) - F.lit(TM.ORIGIN_SHIFT)
    ty_tms = (F.lit((1 << Z_IDW) - 1) - F.col("ty")).cast("double")
    cy = (ty_tms + F.lit(0.5)) * F.lit(256.0) * F.lit(res) - F.lit(TM.ORIGIN_SHIFT)
    clon, clat = TM.meters_to_lonlat(cx, cy)
    d2 = (
        (F.col("lon") - clon) * (F.col("lon") - clon)
        + (F.col("lat") - clat) * (F.col("lat") - clat)
        + F.lit(1e-12)
    )
    dv = pts.withColumn("d2v", d2)
    w = Window.partitionBy("tx", "ty").orderBy("d2v", "o_orderkey")
    sel = (
        dv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _NN_K)
        .withColumn("num_t", F.col("o_totalprice") / F.col("d2v"))
        .withColumn("den_t", F.lit(1.0) / F.col("d2v"))
    )
    fold = ("aggregate(array_sort(collect_list(struct(rn, {t}))), "
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x.{t})")
    agg = sel.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.expr(fold.format(t="num_t")).alias("num"),
        F.expr(fold.format(t="den_t")).alias("den"),
    )
    return agg.select(
        "tx", "ty", "n_used",
        R(F.col("num") / F.col("den"), 6).alias("nn_price"))


def _focal_core_sql() -> str:
    """3×3 edge-clamped focal taps over the synthetic (px*31+py*17+7)%256
    grid — shared verbatim by both engines.  Expects p(py, px); integer
    outputs: min / max / range / 9-tap sum / sum of squares."""
    def val(ix: str, jy: str) -> str:
        cx = f"least(greatest({ix}, 0), 63)"
        cy = f"least(greatest({jy}, 0), 63)"
        return f"((({cx}) * 31 + ({cy}) * 17 + 7) % 256)"

    taps = [val(f"px + {dx}", f"py + {dy}")
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    lmin = taps[0]
    lmax = taps[0]
    for t in taps[1:]:
        lmin = f"least({lmin}, {t})"
        lmax = f"greatest({lmax}, {t})"
    ssum = " + ".join(taps)
    sqsum = " + ".join(f"({t}) * ({t})" for t in taps)
    return f"""SELECT py, px,
       CAST({lmin} AS BIGINT) AS f_min,
       CAST({lmax} AS BIGINT) AS f_max,
       CAST(({lmax}) - ({lmin}) AS BIGINT) AS f_range,
       CAST({ssum} AS BIGINT) AS f_sum,
       CAST({sqsum} AS BIGINT) AS f_sqsum
FROM p"""


@register(
    "raster_focal_menu",
    f"""WITH g AS (SELECT unnest(generate_series(0, 63)) AS v),
p AS (SELECT gy.v AS py, gx.v AS px FROM g gy CROSS JOIN g gx)
{_focal_core_sql()}""",
)
def q_raster_focal_menu(spark, sf_dir):
    """Focal neighbor statistics (gdal raster neighbors,
    apps/gdalalg_raster_neighbors.cpp; the 3×3 moving-window family next
    to the existing focal-mean gate): min / max / range / sum / sum-of-
    squares over an edge-clamped 3×3 window — ALL-INTEGER taps spelled
    identically on both engines, one whole-stage-codegen projection
    (map-only; at fact scale the same taps read from a halo-joined tile
    table, the tile_focal_mean shape)."""
    spark.sql(
        "SELECT explode(sequence(0, 63)) AS v"
    ).createOrReplaceTempView("g")
    return spark.sql(f"""WITH
p AS (SELECT gy.v AS py, gx.v AS px FROM g gy CROSS JOIN g gx)
{_focal_core_sql()}""")


_LRP_STEP = 2_000_000  # 2.0 planar units in micro-units


@register(
    "lineref_parts",
    f"""WITH sb(line_id, seg_idx, x1, y1, x2, y2) AS ({_line_segment_values()}),
sl AS (
  SELECT line_id, seg_idx, x1, y1, x2, y2,
         floor(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
               * 1000000.0 + 0.5)::bigint AS len_micro
  FROM sb),
pf AS (
  SELECT line_id, seg_idx, x1, y1, x2, y2, len_micro,
         COALESCE(sum(len_micro) OVER (
           PARTITION BY line_id ORDER BY seg_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
           AS prefix_micro
  FROM sl),
tot AS (SELECT line_id, sum(len_micro)::bigint AS total_micro
        FROM sl GROUP BY line_id),
mk AS (
  SELECT line_id,
         unnest(generate_series(0, greatest((total_micro - 1) // {_LRP_STEP}, 0)))
           AS k
  FROM tot),
mp AS (SELECT line_id, k, k * {_LRP_STEP} AS m FROM mk)
SELECT mp.line_id, mp.k::bigint AS k,
       {SR('pf.x1 + ((mp.m - pf.prefix_micro)::double / pf.len_micro::double) * (pf.x2 - pf.x1)', 9)} AS ix,
       {SR('pf.y1 + ((mp.m - pf.prefix_micro)::double / pf.len_micro::double) * (pf.y2 - pf.y1)', 9)} AS iy
FROM mp JOIN pf ON pf.line_id = mp.line_id
  AND pf.prefix_micro <= mp.m AND mp.m < pf.prefix_micro + pf.len_micro""",
)
def q_lineref_parts(spark, sf_dir):
    """Linear referencing — CREATE mileposts (ogrlineref -create,
    apps/ogrlineref.cpp: split a line into fixed-step parts; the part
    boundaries are the interpolated points at measures k·L): every 2.0
    planar units along each §2e walk polyline.  All measures live as
    INTEGER micro-units (segment lengths micro-quantized first), so the
    per-line interval partition [prefix, prefix+len) is exact on both
    engines and each milepost joins to exactly ONE segment; the within-
    segment interpolation is an integer-ratio double — bit-identical.
    Engine shape: segment-prefix dimension table (posexplode + integer
    window cumsum), per-line explode of the milepost sequence, broadcast
    range join, closed-form interpolation."""
    from pyspark.sql import Window

    from gdal_spark.data.pages import lines_df

    segs = lines_df(spark).select(
        "line_id", F.posexplode("coords").alias("pos", "pt"))
    wl = Window.partitionBy("line_id").orderBy("pos")
    seg = (
        segs.select(
            "line_id", F.col("pos").alias("seg_idx"),
            F.col("pt")[0].alias("x1"), F.col("pt")[1].alias("y1"),
            F.lead("pt").over(wl).alias("np"))
        .filter(F.col("np").isNotNull())
        .select(
            "line_id", "seg_idx", "x1", "y1",
            F.col("np")[0].alias("x2"), F.col("np")[1].alias("y2"),
            F.floor(
                F.sqrt(
                    (F.col("np")[0] - F.col("x1"))
                    * (F.col("np")[0] - F.col("x1"))
                    + (F.col("np")[1] - F.col("y1"))
                    * (F.col("np")[1] - F.col("y1"))
                ) * F.lit(1000000.0) + F.lit(0.5)
            ).cast("long").alias("len_micro"))
    )
    ws = Window.partitionBy("line_id").orderBy("seg_idx") \
        .rowsBetween(Window.unboundedPreceding, -1)
    pf = seg.withColumn(
        "prefix_micro",
        F.coalesce(F.sum("len_micro").over(ws), F.lit(0)).cast("long"))
    tot = seg.groupBy("line_id").agg(
        F.sum("len_micro").cast("long").alias("total_micro"))
    mp = tot.select(
        "line_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.floor((F.col("total_micro") - 1) / F.lit(_LRP_STEP))
                    .cast("long"),
                    F.lit(0).cast("long"),
                ),
            )
        ).alias("k"),
    ).withColumn("m", (F.col("k") * F.lit(_LRP_STEP)).cast("long"))
    j = mp.join(
        F.broadcast(pf),
        (mp["line_id"] == pf["line_id"])
        & (pf["prefix_micro"] <= mp["m"])
        & (mp["m"] < pf["prefix_micro"] + pf["len_micro"]),
    )
    t = (mp["m"] - F.col("prefix_micro")).cast("double") \
        / F.col("len_micro").cast("double")
    return j.select(
        mp["line_id"], F.col("k").cast("long").alias("k"),
        R(F.col("x1") + t * (F.col("x2") - F.col("x1")), 9).alias("ix"),
        R(F.col("y1") + t * (F.col("y2") - F.col("y1")), 9).alias("iy"))


@register(
    "corpus_shuffle_order",
    """WITH h AS (
  SELECT doc_id, md5('ep1:' || doc_id::varchar) AS hk FROM documents)
SELECT doc_id, hk,
       row_number() OVER (ORDER BY hk, doc_id)::bigint AS shuffle_rank
FROM h""",
)
def q_corpus_shuffle_order(spark, sf_dir):
    """Deterministic training-order shuffle (the per-epoch document
    shuffle every LLM data loader needs — seeded, reproducible across
    cluster sizes; GPT-3 / T5 data-pipeline practice): shuffle key =
    md5(seed || doc_id), global rank by distributed range-partitioned
    sort (zero driver collect; Spark samples range bounds, ranks are
    computed per-partition + offset — the curve_rank machinery's
    contract).  Both engines agree because md5 of the same bytes is the
    same everywhere; the (hk, doc_id) tie order is total."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    h = docs.withColumn(
        "hk", F.md5(F.concat(F.lit("ep1:"), F.col("doc_id").cast("string"))))
    from gdal_spark.operators.curve_sort import curve_rank
    ranked = curve_rank(h, "hk", "doc_id", pos_name="shuffle_rank")
    return ranked.select(
        "doc_id", "hk", F.col("shuffle_rank").cast("long").alias("shuffle_rank"))


@register(
    "coverage_check",
    f"""WITH b(pid, xmin, ymin, xmax, ymax) AS ({_envelope_values(polygon_records_b(), 'pid')}),
j AS (
  SELECT a.pid AS id_a, c.pid AS id_b,
         least(a.xmax, c.xmax) - greatest(a.xmin, c.xmin) AS xo,
         least(a.ymax, c.ymax) - greatest(a.ymin, c.ymin) AS yo
  FROM b a JOIN b c ON a.pid < c.pid)
SELECT id_a, id_b, {SR('xo * yo', 6)} AS overlap_area
FROM j WHERE xo > 0 AND yo > 0""",
)
def q_coverage_check(spark, sf_dir):
    """Coverage validity check — OVERLAP detection within one polygon
    layer (gdal vector check-coverage, apps/gdalalg_vector_check_coverage
    .cpp; GEOS CoverageValidate semantics: a clean coverage has no
    interior-overlapping pairs): self-join of the probe layer through the
    cell-cover candidate machinery (each pair tested once in its
    smallest shared cell — no distinct shuffle), exact S–H clip per
    candidate, pairs with positive interior overlap reported with their
    overlap area.  The 18 flagged pairs ARE the coverage violations; a
    clean mosaic returns zero rows."""
    b = polygons_b_df(spark)
    out = PJ.layer_intersection_rect(b, b, zoom=5)
    return (
        out.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", R("inter_area", 6).alias("overlap_area"))
    )


def _sql_curve_multi() -> str:
    # same closed-form chord algebra as _sql_curve_linearize: m chords of
    # sweep θ on radius r total m·2r·sin(θ/(2m)); inscribed m-gon area
    # (m/2)·r²·sin(2π/m).  Member sums evaluated analytically.
    mc_len = "45 * 2.0 * 4.0 * sin(pi() / 90.0) + 5.0"
    ms_len = "90 * 2.0 * 3.0 * sin(pi() / 90.0) + 6.0"
    ms_area = "45.0 * 9.0 * sin(pi() / 45.0) + 2.0"
    return f"""
SELECT curve_id, kind, n_members, n_points,
       {SR('len_expr', 6)} AS length, {SR('area_expr', 6)} AS area
FROM (VALUES
  (5, 'multiline', 2, 48, {mc_len}, 0.0),
  (6, 'multipolygon', 2, 96, {ms_len}, {ms_area})
) AS t(curve_id, kind, n_members, n_points, len_expr, area_expr)"""


@register("curve_multi_linearize", _sql_curve_multi())
def q_curve_multi_linearize(spark, sf_dir):
    """MultiCurve / MultiSurface containers (ISO WKB types 11/12;
    ogr_geometry.h OGRMultiCurve/OGRMultiSurface — the container half of
    the curve family next to the member-level curve_linearize gate):
    parse the container WKB, stroke every member at the 4° OGR step, and
    report member/vertex counts + total linearized length (+ total area
    for MultiSurface).  Oracle = analytic chord-sum/inscribed-polygon
    formulas per member, summed in closed form."""
    import pandas as pd

    rows = [
        (5, bytearray(CV.wkb_multicurve([
            CV.wkb_circularstring([(4, 0), (0, 4), (-4, 0)]),
            CV.wkb_linestring([(0, 0), (3, 4)]),
        ]))),
        (6, bytearray(CV.wkb_multisurface([
            CV.wkb_curvepolygon([CV.wkb_circularstring(
                [(8, 5), (5, 8), (2, 5), (5, 2), (8, 5)])]),
            CV.wkb_curvepolygon([CV.wkb_linestring(
                [(0, 0), (2, 0), (2, 1), (0, 1), (0, 0)])]),
        ]))),
    ]
    df = spark.createDataFrame(rows, "curve_id int, wkb binary")

    def run(batches):
        for pdf in batches:
            out = {"curve_id": [], "kind": [], "n_members": [],
                   "n_points": [], "length": [], "area": []}
            for cid, blob in zip(pdf["curve_id"], pdf["wkb"]):
                tree, _ = CV.parse_curve_wkb(bytes(blob))
                lin = CV.linearize(tree)
                if tree[0] == "multisurface":
                    kind = "multipolygon"
                    n = sum(r.shape[0] for poly in lin for r in poly)
                    length = sum(
                        CV.line_length(r) for poly in lin for r in poly)
                    area = sum(G.rings_area(poly) for poly in lin)
                else:
                    kind = "multiline"
                    n = sum(l.shape[0] for l in lin)
                    length = sum(CV.line_length(l) for l in lin)
                    area = 0.0
                out["curve_id"].append(int(cid))
                out["kind"].append(kind)
                out["n_members"].append(len(lin))
                out["n_points"].append(n)
                out["length"].append(length)
                out["area"].append(area)
            yield pd.DataFrame({
                "curve_id": pd.Series(out["curve_id"], dtype="int32"),
                "kind": out["kind"],
                "n_members": pd.Series(out["n_members"], dtype="int32"),
                "n_points": pd.Series(out["n_points"], dtype="int32"),
                "length": pd.Series(out["length"], dtype="float64"),
                "area": pd.Series(out["area"], dtype="float64"),
            })

    out = df.mapInPandas(
        run,
        "curve_id int, kind string, n_members int, n_points int, "
        "length double, area double",
    )
    return out.select(
        "curve_id", "kind", "n_members", "n_points",
        R(F.col("length"), 6).alias("length"),
        R(F.col("area"), 6).alias("area"))


@register(
    "scd2_intervals",
    """WITH s AS (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM events WHERE event_type IN ('view', 'click', 'purchase'))
SELECT user_id, event_type, ts AS valid_from, valid_to,
       CAST(rn AS BIGINT) AS version,
       CAST(valid_to IS NULL AS BIGINT) AS is_current
FROM s""",
)
def q_scd2_intervals(spark, sf_dir):
    """SCD Type-2 interval build (the warehouse merge/upsert pattern every
    Iceberg-backed attribute table needs — Kimball slowly-changing
    dimensions; the snapshot-table gate's time-travel complement): each
    user's attribute stream becomes effective-dated rows via ONE
    partitioned window pass — valid_from = event ts, valid_to = next
    event's ts, NULL marks the current row.  No shuffle beyond the single
    user_id window; the (ts, event_id) tiebreak makes the version order
    total on both engines."""
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("ts").over(w).isNull().cast("long").alias("is_current"),
    )


@register(
    "model_auc_rank",
    """WITH s AS (
  SELECT doc_id,
         (doc_id * 37 + n_chars) % 1009 AS score,
         CASE WHEN (doc_id * 7919) % 13 < 5 THEN 1 ELSE 0 END AS label
  FROM documents),
r AS (
  SELECT label,
         row_number() OVER (ORDER BY score, doc_id) AS rk
  FROM s),
agg AS (
  SELECT sum(CASE WHEN label = 1 THEN rk ELSE 0 END)::bigint AS pos_rank_sum,
         sum(label)::bigint AS n_pos,
         sum(1 - label)::bigint AS n_neg
  FROM r)
SELECT n_pos, n_neg,
       ((pos_rank_sum - n_pos * (n_pos + 1) // 2) * 1000000
        // (n_pos * n_neg))::bigint AS auc_micro
FROM agg""",
)
def q_model_auc_rank(spark, sf_dir):
    """Distributed AUC by rank-sum (Mann–Whitney U — the quality-
    classifier evaluation step of a curation pipeline; pairs with the
    DCLM-style linear scorer gate): global rank of every document under
    a total (score, doc_id) order via the distributed range-partitioned
    curve_rank (NO single-partition window), then one integer rank-sum
    aggregate — AUC = (Σ rank⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻) in exact micro-
    units.  Deterministic integer scores/labels keep both engines
    bit-identical; the tie-broken rank definition is itself the oracle's."""
    from gdal_spark.operators.curve_sort import curve_rank

    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    s = docs.select(
        "doc_id",
        ((F.col("doc_id") * 37 + F.col("n_chars")) % 1009).alias("score"),
        F.when((F.col("doc_id") * 7919) % 13 < 5, F.lit(1))
        .otherwise(F.lit(0)).alias("label"),
    )
    ranked = curve_rank(s, "score", "doc_id", pos_name="rk")
    agg = ranked.agg(
        F.sum(F.when(F.col("label") == 1, F.col("rk")).otherwise(F.lit(0)))
        .cast("long").alias("pos_rank_sum"),
        F.sum("label").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("label")).cast("long").alias("n_neg"),
    )
    return agg.select(
        "n_pos", "n_neg",
        F.floor(
            (F.col("pos_rank_sum")
             - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2))
            * F.lit(1000000)
            / (F.col("n_pos") * F.col("n_neg"))
        ).cast("long").alias("auc_micro"),
    )


_SQL_AGG_FILTER = """SELECT lang,
       CAST(count(*) FILTER (WHERE n_chars > 500) AS BIGINT) AS n_long,
       CAST(bool_and(n_chars > 0) AS BIGINT) AS all_pos,
       CAST(bool_or(n_chars > 5000) AS BIGINT) AS any_huge,
       CAST(count_if(doc_id % 2 = 0) AS BIGINT) AS n_even,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM documents GROUP BY lang"""


@register("sql_agg_filter_menu", _SQL_AGG_FILTER)
def q_sql_agg_filter_menu(spark, sf_dir):
    """FILTERed aggregates + boolean aggregate menu (SQL:2003 T612
    FILTER clause; bool_and / bool_or / count_if — the ogr_swq aggregate
    tail): ONE SQL text verbatim on Spark SQL and DuckDB.  Catalyst
    rewrites every FILTER into a conditional partial aggregate — still a
    single map-side-combined shuffle, no per-predicate passes."""
    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_SQL_AGG_FILTER)


_STREAM_GATE_SEQ = [0]


@register(
    "streaming_window_counts",
    """SELECT event_type,
       date_trunc('hour', ts) AS win_start,
       count(*)::bigint AS n_events,
       sum(CAST(floor(value * 1000.0 + 0.5) AS BIGINT))::bigint
         AS value_milli
FROM events GROUP BY event_type, date_trunc('hour', ts)""",
)
def q_streaming_window_counts(spark, sf_dir):
    """Structured-Streaming gate with an EXACT batch oracle (the
    streaming extension previously verified only by pytest): the events
    table replayed through readStream (file source) → 2 h watermark →
    1 h tumbling event-time windows per event_type → availableNow
    micro-batches into a memory sink.  Tumbling windows are epoch-
    aligned, so the oracle is a plain date_trunc GROUP BY; per-row
    milli-quantization before the sum keeps the aggregate order-free.
    At fact scale this exact plan runs continuously with late-data
    eviction at the watermark (streaming/ingest.py contract)."""
    src = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(src).schema
    # the file stream source lists a DIRECTORY; glob-filter it down to
    # the events table so sibling parquet files never enter the stream
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("pathGlobFilter", "events.parquet").load(sf_dir)
    )
    # watermarks need TIMESTAMP (ltz); session tz is pinned UTC, so the
    # ntz→ltz cast is instant-preserving and the oracle's naive
    # date_trunc agrees
    stream = stream.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts_ltz", "2 hours")
        .groupBy(F.window("ts_ltz", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.floor(F.col("value") * F.lit(1000.0) + F.lit(0.5))
                .cast("long")
            ).cast("long").alias("value_milli"),
        )
    )
    _STREAM_GATE_SEQ[0] += 1
    qname = f"_gate_stream_win_{_STREAM_GATE_SEQ[0]}"
    q = (
        agg.writeStream.format("memory").queryName(qname)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname).select(
        "event_type",
        F.col("window.start").cast("timestamp_ntz").alias("win_start"),
        "n_events", "value_milli",
    )


@register(
    "tpch_q10",
    f"""SELECT c.c_custkey, c.c_name,
       {SR("sum(l.l_extendedprice * (1.0 - l.l_discount))", 2)} AS revenue,
       {SR("c.c_acctbal", 2)} AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20""",
)
def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting — top lost-revenue customers):
    the 4-way join shape with BOTH dimension directions — nation
    broadcast onto customer, the filtered quarter of orders shuffling
    only against returned lineitems; revenue stable-rounded BEFORE the
    top-20 cut (the tpch_q3 contract).  Plan: two broadcasts (nation,
    and the date-filtered orders side stays partial), one l_orderkey
    shuffle, TakeOrderedAndProject."""
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate")
         >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate")
           < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    l = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            R(
                F.sum(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                ),
                2,
            ).alias("revenue")
        )
        .select(
            "c_custkey", "c_name", "revenue",
            R(F.col("c_acctbal"), 2).alias("c_acctbal"), "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "streaming_static_join",
    """SELECT c.c_mktsegment,
       date_trunc('hour', e.ts) AS win_start,
       count(*)::bigint AS n_events
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, date_trunc('hour', e.ts)""",
)
def q_streaming_static_join(spark, sf_dir):
    """Stream-STATIC join (the second streaming feature class next to the
    windowed-aggregate gate: Structured Streaming joins each micro-batch
    against a static dimension without state): events replayed through
    the file stream source, inner-joined to the static customer table on
    user_id = c_custkey (broadcast — the dimension never shuffles the
    stream), then watermarked tumbling 1 h counts per market segment in
    complete mode.  Oracle = the equivalent batch join + date_trunc
    GROUP BY."""
    src_dir = sf_dir
    schema = spark.read.parquet(f"{src_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("pathGlobFilter", "events.parquet").load(src_dir)
    )
    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    joined = (
        stream.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
    )
    agg = (
        joined.withWatermark("ts_ltz", "2 hours")
        .groupBy(F.window("ts_ltz", "1 hour"), "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    _STREAM_GATE_SEQ[0] += 1
    qname = f"_gate_stream_sj_{_STREAM_GATE_SEQ[0]}"
    q = (
        agg.writeStream.format("memory").queryName(qname)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname).select(
        "c_mktsegment",
        F.col("window.start").cast("timestamp_ntz").alias("win_start"),
        "n_events",
    )


@register(
    "streaming_dedup",
    """SELECT user_id, event_type FROM events
GROUP BY user_id, event_type""",
)
def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup with BOUNDED state
    (dropDuplicatesWithinWatermark — the third streaming feature class:
    per-key dedup state that the watermark reclaims): events replayed
    through the file stream source, duplicates of (user_id, event_type)
    arriving within the watermark horizon dropped, append-mode memory
    sink.  The horizon here covers the whole fixture timeline so the
    result is the exact DISTINCT (the oracle); only the dedup KEYS are
    emitted, so survivor choice inside a micro-batch cannot leak
    nondeterminism.  At 10^12 docs the state is (live keys within the
    horizon), not rows — the streaming twin of operators/dedup.py
    exact_dedup (streaming/stateful.py:streaming_dedup contract)."""
    src = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("pathGlobFilter", "events.parquet").load(sf_dir)
    )
    deduped = (
        stream.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    _STREAM_GATE_SEQ[0] += 1
    qname = f"_gate_stream_dd_{_STREAM_GATE_SEQ[0]}"
    q = (
        deduped.select("user_id", "event_type")
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname)


@register(
    "streaming_session_windows",
    """WITH ordered AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM ordered),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING)::bigint AS session_id
  FROM flagged),
rolled AS (
  SELECT user_id, min(ts) AS sess_start, max(ts) AS last_ts,
         count(*)::bigint AS n_events
  FROM sessions GROUP BY user_id, session_id)
SELECT user_id, sess_start, n_events
FROM rolled
WHERE epoch_us(last_ts) + 1800000000
      <= ((epoch_us((SELECT max(ts) FROM events)) // 1000) - 7200000) * 1000""",
)
def q_streaming_session_windows(spark, sf_dir):
    """Event-time SESSION windows in Structured Streaming (gap-close
    semantics, session_window() — the streaming twin of the batch
    sessionize gate): events through the file stream source → 2 h
    watermark → 30 min gap sessions per user → APPEND mode, so only
    sessions CLOSED by the final watermark emit.  The oracle replicates
    the exact close rule: a session merges events with inter-arrival
    gap < 30 min (new session at >= gap), and emits iff
    last_ts + gap <= watermark, where watermark = ms-truncated
    max-event-time − 2 h (Spark tracks event-time stats in epoch-ms).
    The final no-data micro-batch that availableNow runs after the
    watermark advances is what flushes the closed sessions — the same
    mechanism that emits continuously at fact scale."""
    src = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("pathGlobFilter", "events.parquet").load(sf_dir)
    )
    agg = (
        stream.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "2 hours")
        .groupBy(F.session_window("ts_ltz", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    _STREAM_GATE_SEQ[0] += 1
    qname = f"_gate_stream_sw_{_STREAM_GATE_SEQ[0]}"
    q = (
        agg.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname).select(
        "user_id",
        F.col("session_window.start").cast("timestamp_ntz")
        .alias("sess_start"),
        "n_events",
    )


@register(
    "streaming_snapshot_sink",
    """SELECT event_type, count(*)::bigint AS n_events,
       sum(CAST(floor(value * 1000.0 + 0.5) AS bigint))::bigint
         AS value_milli,
       4::bigint AS n_snapshots, 0::bigint AS replay_added
FROM events GROUP BY event_type""",
)
def q_streaming_snapshot_sink(spark, sf_dir):
    """STREAMING → SNAPSHOT-TABLE capstone (the product path a 100 TB
    ingest actually runs: Structured Streaming micro-batches committing
    Iceberg-style snapshot appends exactly once).  The events table is
    split into 4 deterministic slices (event_id % 4) replayed as one
    micro-batch each (maxFilesPerTrigger=1); foreachBatch appends each
    batch to a SnapshotTable behind a CONTENT-ADDRESSED commit marker
    (the slice id, written atomically after the append — the Iceberg
    commit-UUID idempotency pattern, not Spark's batchId, so it
    survives checkpoint loss).  The stream is then REPLAYED with a
    fresh checkpoint: every batch re-arrives, every commit marker
    short-circuits, and the table must be byte-identical —
    n_snapshots stays 4 and replay_added pins 0.  The final read-back
    aggregate has a plain GROUP-BY oracle over the source table."""
    import os
    import tempfile

    from gdal_spark.plans.snapshots import SnapshotTable

    base = tempfile.mkdtemp(prefix="gdalspark_stream_snap_")
    src = f"{base}/src"
    os.makedirs(src, exist_ok=True)
    events = _read(spark, sf_dir, "events")
    for i in range(4):
        stage = f"{base}/stage{i}"
        (events.filter(F.col("event_id") % 4 == i).coalesce(1)
         .write.mode("overwrite").parquet(stage))
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.replace(f"{stage}/{part}", f"{src}/batch-{i}.parquet")

    root = f"{base}/table"
    markers = f"{base}/commits"
    os.makedirs(markers, exist_ok=True)
    tbl = SnapshotTable(root, key_col="event_id")

    def sink(batch_df, _batch_id):
        slice_id = batch_df.agg(
            (F.min("event_id") % 4).alias("s")).collect()[0]["s"]
        marker = f"{markers}/slice-{int(slice_id)}"
        if os.path.exists(marker):
            return  # already committed — exactly-once on replay
        tbl.append(batch_df)
        tmp = marker + ".tmp"
        open(tmp, "w").close()
        os.replace(tmp, marker)  # atomic commit marker

    schema = events.schema

    def replay(ckpt: str) -> None:
        q = (
            spark.readStream.schema(schema).format("parquet")
            .option("maxFilesPerTrigger", "1").load(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    replay(f"{base}/ckpt1")
    n1 = tbl.current_id()
    # second run with a FRESH checkpoint: Spark reprocesses everything,
    # the content markers must swallow every batch
    replay(f"{base}/ckpt2")
    n2 = tbl.current_id()

    return tbl.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1000.0 + 0.5).cast("long"))
        .cast("long").alias("value_milli"),
    ).select(
        "event_type", "n_events", "value_milli",
        F.lit(int(n1)).cast("long").alias("n_snapshots"),
        F.lit(int(n2 - n1)).cast("long").alias("replay_added"),
    )


@register(
    "streaming_running_state",
    """SELECT event_type, count(*)::bigint AS n_events,
       sum(CAST(floor(value * 1000.0 + 0.5) AS BIGINT))::bigint
         AS value_milli
FROM events GROUP BY event_type""",
)
def q_streaming_running_state(spark, sf_dir):
    """CUSTOM stateful streaming operator (applyInPandasWithState — the
    bespoke-state feature class next to windows/dedup/stream-static
    join): per-event-type running (count, integer milli-sum) totals,
    state one tuple per live key, emitted each trigger the key receives
    data.  The replay is one availableNow micro-batch, so the emitted
    running totals equal the batch aggregate (the oracle); integer
    accumulation inside the Arrow-batched state function keeps the sum
    order-free at any batch split or cluster size
    (streaming/stateful.py:running_type_totals)."""
    from gdal_spark.streaming.stateful import running_type_totals

    src = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("pathGlobFilter", "events.parquet").load(sf_dir)
    )
    totals = running_type_totals(stream)
    _STREAM_GATE_SEQ[0] += 1
    qname = f"_gate_stream_st_{_STREAM_GATE_SEQ[0]}"
    q = (
        totals.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname)


# ===========================================================================
# Triangle counting over the deterministic link graph (Latapy 2008 /
# GraphX TriangleCount semantics — degree-ordered orientation)
# ===========================================================================

# Shift maps with compositional closure (3 + 7 = 10): edges i->i+3,
# i->i+7, i->i+10 (mod n) guarantee ~2n real triangles at any n, unlike
# the pagerank gate's multiplicative maps (triangle-free at n=500).
_TRI_SHIFTS = (3, 7, 10)
_TRI_EDGES_SQL = " UNION ALL ".join(
    f"SELECT doc_id AS src, (doc_id + {b}) % cnt AS dst "
    "FROM n CROSS JOIN c"
    for b in _TRI_SHIFTS)


@register(
    "web_triangles",
    f"""WITH n AS (SELECT doc_id FROM documents),
c AS (SELECT count(*)::bigint AS cnt FROM n),
e0 AS (SELECT DISTINCT src, dst FROM ({_TRI_EDGES_SQL}) WHERE src <> dst),
u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e0),
t AS (SELECT u1.a AS x, u1.b AS y, u2.b AS z
      FROM u u1
      JOIN u u2 ON u2.a = u1.b
      JOIN u u3 ON u3.a = u1.a AND u3.b = u2.b),
v AS (SELECT x AS id FROM t
      UNION ALL SELECT y FROM t
      UNION ALL SELECT z FROM t)
SELECT id AS doc_id, count(*)::bigint AS n_tri FROM v GROUP BY id""",
)
def q_web_triangles(spark, sf_dir):
    """Triangle counting over the deterministic 3-out-link document
    graph (the GraphX TriangleCount analogue; ref has no graph ops —
    webtext-axis extension): degree-ordered edge orientation bounds
    per-vertex wedge fanout by graph arboricity, so the wedge self-join
    survives power-law web graphs; three shuffles, no iteration.  The
    oracle enumerates x<y<z triangles by id — independent of the
    engine's (degree, id) orientation, so the count parity is a real
    cross-check of the enumeration rule
    (operators/graph.py:triangle_counts)."""
    from gdal_spark.operators.graph import triangle_counts

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = None
    for b in _TRI_SHIFTS:
        part = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") + b) % n).alias("dst"),
        )
        edges = part if edges is None else edges.unionAll(part)
    out = triangle_counts(edges)
    return out.select(F.col("id").alias("doc_id"), "n_tri")


@register(
    "corpus_decontaminate_bloom",
    f"""WITH bh AS (SELECT DISTINCT unnest({D.sql_shingle_hashes('text', 3)}) AS h
            FROM documents WHERE {_DECON_BENCH_PRED}),
c AS (SELECT doc_id, {D.sql_shingle_hashes('text', 3)} AS sh
      FROM documents WHERE NOT ({_DECON_BENCH_PRED})),
bad AS (SELECT DISTINCT cx.doc_id
        FROM (SELECT doc_id, unnest(sh) AS h FROM c) cx JOIN bh USING (h))
SELECT c.doc_id, len(sh)::bigint AS n_shingles
FROM c WHERE c.doc_id NOT IN (SELECT doc_id FROM bad)""",
)
def q_corpus_decontaminate_bloom(spark, sf_dir):
    """Decontamination via BLOOM-PREFILTER (the exact-membership variant
    of corpus_decontaminate, and the way it actually runs at 100 TB:
    the corpus side must not shuffle).  The benchmark slice's 3-gram
    hash set builds a 65536-bit / k=3 bloom bitmap ONCE (driver-side,
    the bench side is small by construction), broadcast as a single
    array<long> literal; the corpus is filtered MAP-ONLY by a pure JVM
    higher-order probe expression (whole-stage codegen, no shuffle, no
    Python).  Bloom negatives are provably clean (no false negatives);
    only the tiny bloom-positive slice reaches the exact broadcast
    verify join — so the result is EXACT, matching the oracle's plain
    anti-join, while the big side never shuffles
    (operators/dedup.py:bloom_bitmap/bloom_hit_expr)."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.expr(_DECON_BENCH_PRED))
    corpus = docs.filter(~F.expr(_DECON_BENCH_PRED))

    def staged_shingles(df):
        # two-projection form (dedup.py contract): split ONCE into a
        # materialized token array, then shingle+hash from the attribute
        # — the single-Column HOF form re-splits per window index in the
        # interpreted path (~10x on fat documents).
        return (
            df.select(
                "doc_id",
                F.split(F.trim(F.col("text")), " +").alias("_toks"))
            .select(
                "doc_id",
                D.shingles_from_tokens("_toks", 3).alias("_sgl"))
            .select(
                "doc_id",
                F.transform("_sgl", D.md5_h32).alias("_sh"))
        )

    bench_hashes = [
        r[0] for r in staged_shingles(bench)
        .select(F.explode("_sh").alias("h")).distinct().collect()
    ]
    bloom = D.bloom_bitmap(bench_hashes)
    # the exact verify set IS the collected bloom input — rebuild it as a
    # driver-local dimension instead of re-shingling the bench side
    bench_set = spark.createDataFrame(
        [(int(h),) for h in bench_hashes], "h long")
    cand = (
        staged_shingles(corpus)
        .withColumn("_bloom", F.lit(bloom))
        .withColumn("_hit", F.expr(D.bloom_hit_expr("_sh", "_bloom")))
        # persist (not localCheckpoint): same compute-once sharing between
        # the clean/positive branches, but keeps the probe visible in the
        # physical plan for the map-only pin (tests/test_plans.py)
        .persist()
    )
    n_sh = F.size("_sh").cast("long").alias("n_shingles")
    clean_fast = cand.filter(~F.col("_hit")).select("doc_id", n_sh)
    pos = cand.filter(F.col("_hit"))
    contaminated = (
        pos.select("doc_id", F.explode("_sh").alias("h"))
        .join(F.broadcast(bench_set), "h")
        .select("doc_id").distinct()
    )
    verified_clean = (
        pos.join(contaminated, "doc_id", "left_anti").select("doc_id", n_sh)
    )
    return clean_fast.unionAll(verified_clean)


@register(
    "snapshot_merge_upsert",
    """WITH m AS (SELECT max(o_orderkey) // 2 AS mid,
                  max(o_orderkey) AS mx FROM orders),
base AS (SELECT o_orderkey AS k,
                CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
         FROM orders),
upd AS (SELECT k, v + 111 AS v FROM base, m
        WHERE k >= mid // 4 AND k < mid // 4 + mid // 8),
ins AS (SELECT mx + 1 + k AS k, k AS v FROM base, m WHERE k < 50),
src AS (SELECT k, v FROM upd UNION ALL SELECT k, v FROM ins),
final AS (SELECT k, v FROM base WHERE k NOT IN (SELECT k FROM src)
          UNION ALL SELECT k, v FROM src)
SELECT count(*)::bigint AS n_rows, sum(k)::bigint AS key_sum,
       sum(v)::bigint AS v_sum,
       1::bigint AS seg_rewritten, 1::bigint AS seg_carried
FROM final""",
)
def q_snapshot_merge_upsert(spark, sf_dir):
    """Snapshot-table MERGE upsert (Iceberg MERGE INTO, copy-on-write —
    completes the storage contract next to append / range-delete / time
    travel): two key-range segments, then a source of updates (keys
    inside segment 1, value bumped) + inserts (keys past the table max).
    Pruning is ONE broadcast range-join of source keys against manifest
    (kmin, kmax) stats — segment 2 holds no source key, so the gate pins
    seg_rewritten=1 / seg_carried=1 as MEASURED counts against oracle
    literals; the oracle reconstructs the merged state from orders and
    never sees the files (plans/snapshots.py:merge_upsert)."""
    import tempfile

    root = tempfile.mkdtemp(prefix="gdalspark_snap_merge_")
    base = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("v"),
    )
    row = base.agg(
        F.expr("max(k) div 2").alias("mid"), F.max("k").alias("mx")
    ).collect()[0]
    mid, mx = row["mid"], row["mx"]
    tbl = SnapshotTable(root, key_col="k")
    tbl.append(base.filter(F.col("k") < mid))
    tbl.append(base.filter(F.col("k") >= mid))
    upd = base.filter(
        (F.col("k") >= mid // 4) & (F.col("k") < mid // 4 + mid // 8)
    ).select("k", (F.col("v") + 111).alias("v"))
    ins = base.filter(F.col("k") < 50).select(
        (F.lit(int(mx)) + 1 + F.col("k")).alias("k"),
        F.col("k").cast("long").alias("v"),
    )
    _, rewritten, carried = tbl.merge_upsert(spark, upd.unionAll(ins))
    return tbl.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("k").alias("key_sum"),
        F.sum("v").alias("v_sum"),
        F.lit(rewritten).cast("long").alias("seg_rewritten"),
        F.lit(carried).cast("long").alias("seg_carried"),
    )


# ===========================================================================
# ST_ClusterKMeans (PostGIS dialect tail — next to DBSCAN / cluster-within)
# ===========================================================================

_KM2D_SEEDS = [
    (-1200000, -500000), (-600000, 0), (0, 500000),
    (600000, -250000), (1200000, 250000), (0, -750000),
]


def _sql_kmeans2d() -> str:
    xu = f"CAST(floor(({sql_lon('o_orderkey')}) * 10000.0 + 0.5) AS BIGINT)"
    yu = f"CAST(floor(({sql_lat('o_orderkey')}) * 10000.0 + 0.5) AS BIGINT)"
    seeds = ", ".join(
        f"({j}, {cx}::bigint, {cy}::bigint)"
        for j, (cx, cy) in enumerate(_KM2D_SEEDS))

    def keys(cent_terms):
        return "least(" + ", ".join(
            f"((xu - ({cx})) * (xu - ({cx})) + (yu - ({cy})) * (yu - ({cy})))"
            f" * 8 + {j}"
            for j, cx, cy in cent_terms) + ") % 8"

    k1 = keys([(j, str(cx), str(cy))
               for j, (cx, cy) in enumerate(_KM2D_SEEDS)])
    return f"""WITH p AS (
  SELECT o_orderkey, {xu} AS xu, {yu} AS yu FROM orders),
s(j, cx, cy) AS (VALUES {seeds}),
a1 AS (SELECT xu, yu, ({k1})::int AS cl FROM p),
u1 AS (SELECT cl, sum(xu) // count(*) AS cx, sum(yu) // count(*) AS cy
       FROM a1 GROUP BY cl),
c1 AS (SELECT s.j AS cl, COALESCE(u1.cx, s.cx) AS cx,
              COALESCE(u1.cy, s.cy) AS cy
       FROM s LEFT JOIN u1 ON u1.cl = s.j),
a2 AS (SELECT p.o_orderkey, p.xu, p.yu,
              (min(((p.xu - c.cx) * (p.xu - c.cx)
                    + (p.yu - c.cy) * (p.yu - c.cy)) * 8 + c.cl) % 8)::int
                AS cl
       FROM p CROSS JOIN c1 c GROUP BY p.o_orderkey, p.xu, p.yu),
u2 AS (SELECT cl, count(*)::bigint AS n_points,
              sum(xu) // count(*) AS cx, sum(yu) // count(*) AS cy
       FROM a2 GROUP BY cl)
SELECT c1.cl AS cluster_id, COALESCE(u2.n_points, 0)::bigint AS n_points,
       COALESCE(u2.cx, c1.cx)::bigint AS cx_micro,
       COALESCE(u2.cy, c1.cy)::bigint AS cy_micro
FROM c1 LEFT JOIN u2 ON u2.cl = c1.cl"""


@register("st_cluster_kmeans", _sql_kmeans2d())
def q_st_cluster_kmeans(spark, sf_dir):
    """ST_ClusterKMeans (PostGIS dialect reach — completes the clustering
    family next to DBSCAN / cluster-within): 2 Lloyd iterations over
    integer micro-quantized (lon, lat), k=6 pinned literal seeds
    (PostGIS's k-means++ is RNG-arbitrary; determinism is pinned
    instead).  Each assignment is a pure column expression (least() over
    d2*8+j keys vs centroid literals — ties to the lower id, no join on
    the point side); each update one bounded k-row shuffle; the oracle
    unrolls the identical integer rounds as CTEs
    (operators/cluster.py:st_cluster_kmeans)."""
    from gdal_spark.operators.cluster import st_cluster_kmeans

    pts = order_points(spark, sf_dir).select(
        F.floor(F.col("lon") * 10000.0 + 0.5).cast("long").alias("xu"),
        F.floor(F.col("lat") * 10000.0 + 0.5).cast("long").alias("yu"),
    )
    return st_cluster_kmeans(pts, _KM2D_SEEDS, iters=2)


@register(
    "coverage_simplify",
    """SELECT g.v::bigint AS poly_id, 5::int AS n_vertices,
       2.0::double AS area
FROM (SELECT unnest(generate_series(0, 31)) AS v) g""",
)
def q_coverage_simplify(spark, sf_dir):
    """Coverage SIMPLIFICATION (gdal vector simplify-coverage,
    apps/gdalalg_vector_simplify_coverage.cpp; GEOS CoverageSimplifier)
    — completes the coverage family next to check-coverage and the
    dissolve noding gate: every shared boundary chain is simplified
    ONCE (canonical direction, Visvalingam–Whyatt, endpoints pinned)
    and spliced bit-identically into both owners, so the coverage stays
    gap/overlap-free by construction.  Stages: edge-key self-join
    (neighbor detection) → vertex junction-degree agg → per-polygon
    chain walk → per-distinct-chain VW → per-polygon reassembly — all
    keyed joins/aggregates, no all-pairs, no driver geometry.  The 8×4
    zigzag grid fixture must collapse to exact 2×1 rectangles: the
    oracle pins 5 ring vertices and area exactly 2.0 for every cell —
    any gap, overlap, missed tooth, or over-simplified corner breaks
    the count or the shoelace area
    (operators/coverage_simplify.py:simplify_coverage)."""
    from gdal_spark.operators.coverage_simplify import (
        demo_coverage_rings, simplify_coverage)

    df = spark.createDataFrame(
        demo_coverage_rings(cols=8, rows=4),
        "poly_id long, ring array<array<double>>")
    return simplify_coverage(df, tol=0.1)


def _sql_label_prop() -> str:
    edges = " UNION ALL ".join(
        f"SELECT doc_id AS src, (doc_id + {b}) % cnt AS dst "
        "FROM nn CROSS JOIN c"
        for b in _TRI_SHIFTS)
    blocks = [f"""nn AS (SELECT doc_id FROM documents),
c AS (SELECT count(*)::bigint AS cnt FROM nn),
m AS (SELECT cnt + 1 AS m FROM c),
e0 AS (SELECT DISTINCT src, dst FROM ({edges}) WHERE src <> dst),
u AS (SELECT DISTINCT src, dst FROM
      (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM nn)"""]
    for i in range(1, 4):
        blocks.append(f"""v{i} AS (
  SELECT u.dst, l{i - 1}.lbl, count(*)::bigint AS nv
  FROM u JOIN l{i - 1} ON l{i - 1}.id = u.src GROUP BY u.dst, l{i - 1}.lbl),
l{i} AS (
  SELECT dst AS id,
         min(((SELECT m FROM m) - nv) * (SELECT m FROM m) + lbl)
           % (SELECT m FROM m) AS lbl
  FROM v{i} GROUP BY dst)""")
    return (f"WITH {', '.join(blocks)}\n"
            "SELECT id AS doc_id, lbl::bigint AS community FROM l3")


@register("web_communities_lp", _sql_label_prop())
def q_web_communities_lp(spark, sf_dir):
    """Community detection by synchronous LABEL PROPAGATION (Raghavan
    2007; the GraphX/GraphFrames LPA analogue — webtext-axis graph
    family next to PageRank / HITS / shortest-path / triangles), made
    deterministic: most-frequent neighbour label, ties to the SMALLEST
    label via the order-free integer encode (n - count) * n + label.
    3 synchronous rounds, two keyed shuffles per round, lineage
    truncated per round; the oracle chains the identical integer
    rounds as CTEs (operators/graph.py:label_propagation_rounds)."""
    from gdal_spark.operators.graph import label_propagation_rounds

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = None
    for b in _TRI_SHIFTS:
        part = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") + b) % n).alias("dst"),
        )
        edges = part if edges is None else edges.unionAll(part)
    edges = edges.filter(F.col("src") != F.col("dst"))
    out = label_propagation_rounds(
        edges, docs.select(F.col("doc_id").alias("id")),
        rounds=3, n_mult=n + 1)
    return out.select(F.col("id").alias("doc_id"),
                      F.col("lbl").cast("long").alias("community"))


@register(
    "text_inverted_index",
    """WITH t AS (
  SELECT DISTINCT d.doc_id, u.tok
  FROM documents d,
       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
  WHERE u.tok IN ('hash', 'join', 'vector', 'stream', 'filter'))
SELECT tok AS term, count(*)::bigint AS df,
       md5(string_agg(doc_id::varchar, ',' ORDER BY doc_id))
         AS posting_md5
FROM t GROUP BY tok""",
)
def q_text_inverted_index(spark, sf_dir):
    """Inverted-index construction (the index STRUCTURE behind the BM25
    ranking gate — posting lists per term): JVM regexp tokenize +
    explode, distinct (term, doc) pairs, ONE shuffle on the term key;
    posting lists ordered by sort_array so the md5 digest is
    deterministic at any parallelism.  At 100 TB this is the standard
    build: term-sharded posting lists, each a sorted bounded list —
    never a driver collect."""
    docs = _read(spark, sf_dir, "documents")
    pairs = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+")
            ).alias("term"),
        )
        .filter(F.col("term").isin(list(_BM25_TERMS)))
        .distinct()
    )
    return pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.md5(
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id").cast("string")
                                            .cast("long"))),
                ",",
            )
        ).alias("posting_md5"),
    )


# ===========================================================================
# Mergeable sketches (Flajolet 2007 HLL / Cormode–Muthukrishnan CMS) with
# EXACT cross-engine parity: registers are integer folds (max / sum), so
# both engines compute bit-identical sketch states and estimates.
# ===========================================================================


def _sql_hll() -> str:
    h = "('0x' || substring(md5('d' || o_orderkey), 1, 8))::bigint"
    return f"""WITH x AS (
  SELECT o_orderkey % 4 AS shard, {h} % 64 AS idx, {h} // 64 AS w
  FROM orders),
r AS (
  SELECT shard, idx,
         max(CASE WHEN w = 0 THEN 27
                  ELSE 27 - length(bin(w)) END)::bigint AS rho
  FROM x GROUP BY shard, idx),
s AS (
  SELECT shard, count(*)::bigint AS m_used,
         sum(CAST(2 AS BIGINT) ** (27 - rho))::bigint AS denom_scaled
  FROM r GROUP BY shard)
SELECT s.shard, s.m_used, s.denom_scaled,
       (floor(0.709 * 4096.0 * 134217728.0
              / ((s.denom_scaled + (64 - s.m_used) * 134217728)::double)
              * 10000.0 + 0.5) / 10000.0) AS hll_est,
       (SELECT count(DISTINCT o_orderkey) FROM orders o2
        WHERE o2.o_orderkey % 4 = s.shard)::bigint AS n_exact
FROM s"""


@register("sketch_hll_distinct", _sql_hll())
def q_sketch_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007, m=64
    registers) — the bounded-memory mergeable cardinality structure a
    10^12-row pipeline uses instead of COUNT(DISTINCT): per-source
    registers are an integer MAX fold over md5-derived (bucket, rank)
    pairs, so sketch state AND the harmonic estimate (denominator kept
    as an exact power-of-two integer sum, one float division at the
    end) are bit-identical on both engines.  Shards sized n >> 2.5m so
    the raw-HLL regime applies (small-range linear counting out of
    scope).  One bounded shuffle (shards × 64 rows); registers merge
    with max — executor-partial, cluster-size-free."""
    orders = _read(spark, sf_dir, "orders")
    h = F.conv(F.substring(F.md5(F.concat(F.lit("d"),
               F.col("o_orderkey").cast("string"))), 1, 8), 16, 10
               ).cast("long")
    x = orders.select(
        (F.col("o_orderkey") % 4).alias("shard"),
        (h % 64).alias("idx"),
        F.floor(h / F.lit(64)).cast("long").alias("w"),
    )
    r = x.groupBy("shard", "idx").agg(
        F.max(
            F.when(F.col("w") == 0, F.lit(27))
            .otherwise(F.lit(27) - F.length(F.bin("w")))
        ).cast("long").alias("rho")
    )
    s = r.groupBy("shard").agg(
        F.count(F.lit(1)).alias("m_used"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), "
                     "CAST(27 - rho AS INT))"))
        .cast("long").alias("denom_scaled"),
    )
    exact = orders.groupBy((F.col("o_orderkey") % 4).alias("shard")).agg(
        F.countDistinct("o_orderkey").alias("n_exact"))
    est = (
        F.floor(
            F.lit(0.709) * F.lit(4096.0) * F.lit(134217728.0)
            / ((F.col("denom_scaled")
                + (F.lit(64) - F.col("m_used")) * F.lit(134217728))
               .cast("double"))
            * 10000.0 + 0.5
        ) / 10000.0
    )
    return (
        s.join(F.broadcast(exact), "shard")
        .select("shard", "m_used", "denom_scaled",
                est.alias("hll_est"), F.col("n_exact").cast("long"))
    )


@register(
    "sketch_cms_heavy_hitters",
    """WITH tok AS (
  SELECT u.tok FROM documents d,
       unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS u(tok)
  WHERE u.tok <> ''),
dd AS (SELECT unnest([0, 1]) AS d),
cms AS (
  SELECT dd.d,
         ('0x' || substring(md5(dd.d || '|' || tok), 1, 8))::bigint % 512
           AS b,
         count(*)::bigint AS c
  FROM tok CROSS JOIN dd GROUP BY 1, 2),
q AS (SELECT unnest(['hash', 'join', 'vector', 'stream', 'filter'])
        AS term),
look AS (
  SELECT q.term, dd.d,
         ('0x' || substring(md5(dd.d || '|' || q.term), 1, 8))::bigint % 512
           AS b
  FROM q CROSS JOIN dd),
est AS (
  SELECT l.term, min(cms.c)::bigint AS cms_est
  FROM look l JOIN cms ON cms.d = l.d AND cms.b = l.b GROUP BY l.term),
tru AS (
  SELECT tok AS term, count(*)::bigint AS true_n FROM tok
  WHERE tok IN ('hash', 'join', 'vector', 'stream', 'filter')
  GROUP BY tok)
SELECT est.term, est.cms_est, tru.true_n FROM est JOIN tru USING (term)""",
)
def q_sketch_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch (Cormode & Muthukrishnan 2005, depth 2 × width
    512) — the bounded-memory mergeable FREQUENCY structure (heavy
    hitters / token stats at 10^12 scale): all cells are integer SUMS
    over md5-derived buckets, so sketch state and the min-over-rows
    point queries are exact on both engines; cms_est >= true_n always
    (one-sided error), and the gate carries the true count beside the
    estimate.  One bounded shuffle (2 × 512 cells); cells merge by sum
    — executor-partial, cluster-size-free."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+"))
        .alias("tok")
    ).filter(F.col("tok") != "")

    def bucket(d_col, term_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(d_col.cast("string"), F.lit("|"),
                                   term_col)), 1, 8), 16, 10)
            .cast("long") % 512
        )

    td = toks.select(
        "tok", F.explode(F.array(F.lit(0), F.lit(1))).alias("d"))
    cms = (
        td.withColumn("b", bucket(F.col("d"), F.col("tok")))
        .groupBy("d", "b").agg(F.count(F.lit(1)).alias("c"))
    )
    qdf = spark.createDataFrame([(t,) for t in _BM25_TERMS], "term string")
    look = qdf.select(
        "term", F.explode(F.array(F.lit(0), F.lit(1))).alias("d"))
    look = look.withColumn("b", bucket(F.col("d"), F.col("term")))
    est = (
        F.broadcast(look).join(cms, ["d", "b"])
        .groupBy("term").agg(F.min("c").cast("long").alias("cms_est"))
    )
    tru = (
        toks.filter(F.col("tok").isin(list(_BM25_TERMS)))
        .groupBy(F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    return est.join(tru, "term")


# ===========================================================================
# gdal raster resize (-outsize with nearest / bilinear resampling)
# ===========================================================================

_RSZ_W, _RSZ_H = 256, 256        # source grid
_RSZ_DW, _RSZ_DH = 100, 60      # destination grid (non-integer ratios)


def _resize_exprs(dx: str, dy: str) -> tuple[str, str]:
    """Shared algebra text (verbatim on BOTH engines): gdal_translate
    -outsize semantics — nearest picks floor((d + 0.5) * ratio) clamped;
    bilinear maps the dst pixel CENTER back (d + 0.5) * ratio - 0.5 and
    lerps the edge-clamped 2x2 neighborhood (the engine's floor(x - 0.5)
    sampling contract)."""
    rx = f"(CAST({_RSZ_W} AS DOUBLE) / {_RSZ_DW})"
    ry = f"(CAST({_RSZ_H} AS DOUBLE) / {_RSZ_DH})"
    nsx = f"least({_RSZ_W - 1}, cast(floor((({dx}) + 0.5) * {rx}) as int))"
    nsy = f"least({_RSZ_H - 1}, cast(floor((({dy}) + 0.5) * {ry}) as int))"
    nearest = TL.sql_pixel_value(nsx, nsy, "1")
    fx = f"((({dx}) + 0.5) * {rx} - 0.5)"
    fy = f"((({dy}) + 0.5) * {ry} - 0.5)"
    x0 = f"cast(floor({fx}) as int)"
    y0 = f"cast(floor({fy}) as int)"
    tx = f"({fx} - floor({fx}))"
    ty = f"({fy} - floor({fy}))"

    def cl(v, hi):
        return f"greatest(0, least({hi}, {v}))"

    xs = [cl(x0, _RSZ_W - 1), cl(f"({x0}) + 1", _RSZ_W - 1)]
    ys = [cl(y0, _RSZ_H - 1), cl(f"({y0}) + 1", _RSZ_H - 1)]
    v00 = TL.sql_pixel_value(xs[0], ys[0], "1")
    v10 = TL.sql_pixel_value(xs[1], ys[0], "1")
    v01 = TL.sql_pixel_value(xs[0], ys[1], "1")
    v11 = TL.sql_pixel_value(xs[1], ys[1], "1")
    bilinear = (
        f"(({v00}) * (1.0 - {tx}) + ({v10}) * {tx}) * (1.0 - {ty})"
        f" + (({v01}) * (1.0 - {tx}) + ({v11}) * {tx}) * {ty}"
    )
    return nearest, bilinear


def _sql_resize() -> str:
    nearest, bilinear = _resize_exprs("dx", "dy")
    return f"""WITH gx AS (SELECT unnest(generate_series(0, {_RSZ_DW - 1}))
                AS dx),
gy AS (SELECT unnest(generate_series(0, {_RSZ_DH - 1})) AS dy)
SELECT dx, dy, {nearest} AS v_nearest,
       {SR(bilinear, 6)} AS v_bilinear
FROM gx CROSS JOIN gy"""


@register("raster_resize", _sql_resize())
def q_raster_resize(spark, sf_dir):
    """gdal raster resize / gdal_translate -outsize (the named resize
    utility next to translate's crop/rescale): 256x256 synthetic band
    resampled to 100x60 (non-integer ratios both axes) with nearest
    (floor((d+0.5)*ratio) subsample rule, apps/gdal_translate_lib.cpp)
    AND bilinear (dst-center inverse map, edge-clamped 2x2 lerp —
    gdalwarpkernel.cpp parity) — ONE map-only codegen projection per
    dst pixel from the shared algebra text, no shuffle at any scale
    (each executor owns a dst block)."""
    nearest, bilinear = _resize_exprs("dx", "dy")
    dst = (
        spark.range(_RSZ_DW * _RSZ_DH)
        .select(
            (F.col("id") % _RSZ_DW).cast("int").alias("dx"),
            (F.col("id") / F.lit(_RSZ_DW)).cast("int").alias("dy"),
        )
    )
    return dst.select(
        "dx", "dy",
        F.expr(nearest).alias("v_nearest"),
        R(F.expr(bilinear), 6).alias("v_bilinear"),
    )


@register(
    "streaming_stream_join",
    """SELECT a.event_id AS a_id, b.event_id AS b_id,
       a.user_id AS user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND b.ts >= a.ts
 AND b.ts <= a.ts + INTERVAL 10 MINUTE
WHERE a.user_id < 20""",
)
def q_streaming_stream_join(spark, sf_dir):
    """STREAM-STREAM inner join (the last streaming feature class next
    to windowed aggs / stream-static / dedup / sessions / custom state):
    two replays of the events file stream joined on user_id with an
    event-time RANGE condition (b within 10 min after a) — exactly the
    watermark-bounded state shape Structured Streaming keeps per side
    (each side's state is evicted past watermark + range).  availableNow
    replay makes the inner-join output the complete batch join (the
    oracle); the id inequality keeps pairs canonical."""
    src = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(src).schema

    def mk(side):
        st = (
            spark.readStream.schema(schema).format("parquet")
            .option("pathGlobFilter", "events.parquet").load(sf_dir)
            .filter(F.col("user_id") < 20)
            .withColumn("ts_ltz", F.col("ts").cast("timestamp"))
            .withWatermark("ts_ltz", "2 hours")
        )
        return st.select(
            F.col("event_id").alias(f"{side}_id"),
            F.col("user_id").alias(f"{side}_uid"),
            F.col("ts_ltz").alias(f"{side}_ts"),
        )

    a, b = mk("a"), mk("b")
    joined = a.join(
        b,
        (F.col("a_uid") == F.col("b_uid"))
        & (F.col("a_id") < F.col("b_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    _STREAM_GATE_SEQ[0] += 1
    qname = f"_gate_stream_ssj_{_STREAM_GATE_SEQ[0]}"
    q = (
        joined.select("a_id", "b_id", F.col("a_uid").alias("user_id"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname)


# ===========================================================================
# gdal vector clean-coverage (snap-round + node) — the third coverage verb
# next to check-coverage and simplify-coverage
# ===========================================================================


def _dirty_coverage_records() -> list[tuple]:
    """Deterministic DIRTY coverage: shared boundaries offset by sub-snap
    jitter (< 5e-7, snap grid 1e-6) and split by T-junctions — the two
    defect classes gdal vector clean-coverage repairs.  Groups:
    601 = two rects with a jittered shared edge; 602 = T-junction + jitter;
    603 = 3x3 grid minus center (ring-with-hole union), every cell
    jittered."""

    def jit(i):
        return (((i * 7) % 5) - 2) * 1e-7

    def rect(x0, y0, x1, y1, j=0.0):
        return [[[x0 + j, y0 + j], [x1 + j, y0 + j], [x1 + j, y1 + j],
                 [x0 + j, y1 + j], [x0 + j, y0 + j]]]

    recs = []
    recs.append((601, rect(0.0, 0.0, 2.0, 2.0)))
    recs.append((601, rect(2.0, 0.0, 4.0, 2.0, j=4e-7)))
    # 602: A's right edge carries a midpoint (T-junction); B1/B2 jittered
    a = [[[0.0, 0.0], [2.0, 0.0], [2.0, 1.0], [2.0, 2.0], [0.0, 2.0],
          [0.0, 0.0]]]
    recs.append((602, a))
    recs.append((602, rect(2.0, 0.0, 4.0, 1.0, j=-3e-7)))
    recs.append((602, rect(2.0, 1.0, 4.0, 2.0, j=2e-7)))
    k = 0
    for gy in range(3):
        for gx in range(3):
            if gx == 1 and gy == 1:
                continue
            k += 1
            recs.append(
                (603, rect(float(gx), float(gy), gx + 1.0, gy + 1.0,
                           j=jit(k))))
    return recs


@register(
    "coverage_clean",
    """SELECT eas_id, n_src, union_area, n_parts, n_rings FROM (VALUES
  (601::bigint, 2::bigint, 8.0::double, 1::int, 1::int),
  (602::bigint, 3::bigint, 8.0::double, 1::int, 1::int),
  (603::bigint, 8::bigint, 8.0::double, 1::int, 2::int)
) AS t(eas_id, n_src, union_area, n_parts, n_rings)""",
)
def q_coverage_clean(spark, sf_dir):
    """gdal vector clean-coverage (apps/gdalalg_vector_clean_coverage.cpp
    — the SNAP + NODE repair verb, completing the coverage triple with
    check-coverage and simplify-coverage): every shared boundary in the
    fixture is offset by sub-snap jitter and/or split by T-junctions, so
    raw edge cancellation cannot dissolve any group; snap-rounding to
    the 1e-6 grid plus interior-vertex noding makes the coverage
    edge-matched, and the per-group union must then collapse exactly —
    the oracle pins analytic area/part/ring counts (square, square, and
    ring-with-hole).  Per-group work on one keyed shuffle
    (operators/dissolve.py:node_coverage_rings snap path)."""
    df = spark.createDataFrame(
        _dirty_coverage_records(),
        "eas_id long, rings array<array<array<double>>>")
    out = DV.dissolve_union(df, node=True, snap=1e-6)
    return out.select(
        "eas_id", "n_src", R("union_area", 6).alias("union_area"),
        "n_parts", "n_rings",
    )


@register(
    "streaming_stream_join_outer",
    """WITH m AS (SELECT max(ts) AS mx FROM events),
a AS (SELECT event_id, user_id, ts FROM events WHERE user_id < 20),
b AS (SELECT event_id, user_id, ts FROM events WHERE user_id < 20),
j AS (
  SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id, a.ts AS a_ts
  FROM a LEFT JOIN b
    ON a.user_id = b.user_id
   AND a.event_id < b.event_id
   AND b.ts >= a.ts
   AND b.ts <= a.ts + INTERVAL 10 MINUTE)
SELECT a_id, b_id, user_id FROM j
WHERE b_id IS NOT NULL
   OR epoch_ms(a_ts) + 600000
      <= (SELECT epoch_ms(mx) FROM m) - 7200000""",
)
def q_streaming_stream_join_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER join (the null-emitting join mode —
    unmatched left rows emit only when the watermark proves no match
    can still arrive): same key + event-time range as the inner gate.
    The oracle replicates the exact emission rule: matched pairs always
    emit; an unmatched left row emits iff its join horizon closed under
    the final watermark (a.ts + range <= ms-truncated max event time −
    delay) — trailing rows stay in state, exactly as they would while
    the stream runs on.  The same availableNow no-data flush batch that
    closes session windows drives the null emissions here."""
    src = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(src).schema

    def mk(side):
        st = (
            spark.readStream.schema(schema).format("parquet")
            .option("pathGlobFilter", "events.parquet").load(sf_dir)
            .filter(F.col("user_id") < 20)
            .withColumn("ts_ltz", F.col("ts").cast("timestamp"))
            .withWatermark("ts_ltz", "2 hours")
        )
        return st.select(
            F.col("event_id").alias(f"{side}_id"),
            F.col("user_id").alias(f"{side}_uid"),
            F.col("ts_ltz").alias(f"{side}_ts"),
        )

    a, b = mk("a"), mk("b")
    joined = a.join(
        b,
        (F.col("a_uid") == F.col("b_uid"))
        & (F.col("a_id") < F.col("b_id"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    )
    _STREAM_GATE_SEQ[0] += 1
    qname = f"_gate_stream_ssjo_{_STREAM_GATE_SEQ[0]}"
    q = (
        joined.select("a_id", "b_id", F.col("a_uid").alias("user_id"))
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.table(qname)


def _sql_ivfpq() -> str:
    code, _err = SIM.sql_pq_encode("v.embedding", _PQ_M, _PQ_K, EMB_DIM)
    lst = SIM.sql_ivf_assign("v.embedding", 8, EMB_DIM)
    probes = SIM.sql_ivf_probes("q0.embedding", 8, EMB_DIM, 2)
    subdim = EMB_DIM // _PQ_M
    lut_terms = []
    for m in range(_PQ_M):
        dists = []
        for k in range(_PQ_K):
            c = SIM.pq_centroid(m, k, subdim)
            clit = "[" + ", ".join(repr(x) for x in c) + "]"
            d2 = (
                f"list_sum(list_transform(range(1, {subdim} + 1), "
                f"i -> ((q.embedding)[{m * subdim} + i]::double - {clit}[i])"
                f" * ((q.embedding)[{m * subdim} + i]::double - {clit}[i])))"
            )
            dists.append(SIM.sql_stable_round(d2, SIM.ROUND_DP))
        lut_terms.append(
            f"([{', '.join(dists)}])[((e.code // {_PQ_K**m}) % {_PQ_K}) + 1]"
        )
    adc = "(" + " + ".join(lut_terms) + ")"
    return f"""WITH enc AS (
  SELECT v.vec_id, {code} AS code, {lst} AS lst FROM embeddings v),
q0 AS (SELECT vec_id AS qid, embedding FROM embeddings
       WHERE vec_id % 50 = 3 ORDER BY vec_id LIMIT {_PQ_NQ}),
qp AS (SELECT q0.qid, q0.embedding, unnest({probes}) AS lst FROM q0),
scored AS (
  SELECT q.qid, e.vec_id,
         floor({adc} * 1e6 + 0.5)::bigint AS adc_micro
  FROM qp q JOIN enc e USING (lst) WHERE e.vec_id <> q.qid),
rk AS (
  SELECT qid, vec_id, adc_micro,
         row_number() OVER (PARTITION BY qid
                            ORDER BY adc_micro, vec_id) AS rnk
  FROM scored)
SELECT qid, rnk, vec_id, adc_micro FROM rk
WHERE rnk <= {_PQ_TOPK} ORDER BY qid, rnk"""


@register("embed_ann_ivfpq", _sql_ivfpq())
def q_embed_ann_ivfpq(spark, sf_dir):
    """IVF+PQ combined ANN search (the Faiss IVFPQ / billion-scale
    architecture, Jégou 2011 §IV — the ANN menu capstone composing the
    IVF coarse quantizer with PQ asymmetric distance): every vector
    lives in ONE inverted list AND carries a 12-bit PQ code; a query
    probes its nprobe=2 nearest lists and ADC-scans ONLY those lists'
    codes (list equi-join on a small int key — at 10^12 vectors the
    scan touches nprobe/n_centroids of the codes, 16 bytes each, never
    a raw vector).  Scores as exact integer micro-units, (score, id)
    ties — candidate set and ranking bit-identical on both engines."""
    from pyspark.sql import Window

    emb = _read(spark, sf_dir, "embeddings")
    code, _err = SIM.pq_encode_cols("embedding", _PQ_M, _PQ_K, EMB_DIM)
    enc = emb.select(
        "vec_id", code.alias("code"),
        SIM.ivf_assign_col("embedding", 8, EMB_DIM).alias("lst"))
    sims = SIM._ivf_sims("embedding", 8, EMB_DIM)
    probes = F.transform(
        F.slice(
            F.array_sort(F.array(*[
                F.struct((-F.element_at(sims, j + 1)).alias("ns"),
                         F.lit(j + 1).alias("j"))
                for j in range(8)
            ])), 1, 2),
        lambda s: s["j"],
    )
    queries = (
        emb.where(F.col("vec_id") % 50 == 3)
        .orderBy("vec_id").limit(_PQ_NQ)
        .select(F.col("vec_id").alias("qid"), "embedding",
                probes.alias("probes"))
    )
    subdim = EMB_DIM // _PQ_M
    qx = F.col("embedding").cast("array<double>")
    lut_cols = []
    for m in range(_PQ_M):
        sl = F.slice(qx, m * subdim + 1, subdim)
        dists = []
        for k in range(_PQ_K):
            c = SIM.pq_centroid(m, k, subdim)
            carr = F.array(*[F.lit(float(x)) for x in c])
            d2 = F.aggregate(
                F.zip_with(sl, carr, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda acc, v: acc + v)
            dists.append(SIM.stable_round(d2, SIM.ROUND_DP))
        lut_cols.append(F.array(*dists).alias(f"lut{m}"))
    qlut = queries.select(
        "qid", F.explode("probes").alias("lst"), *lut_cols)
    joined = F.broadcast(qlut).join(enc, "lst").where(
        F.col("vec_id") != F.col("qid"))
    adc = None
    for m in range(_PQ_M):
        digit = ((F.col("code") / (_PQ_K**m)).cast("long") % _PQ_K).cast(
            "int")
        term = F.element_at(F.col(f"lut{m}"), digit + 1)
        adc = term if adc is None else adc + term
    scored = joined.select(
        "qid", "vec_id",
        F.floor(adc * 1e6 + F.lit(0.5)).cast("long").alias("adc_micro"))
    w = Window.partitionBy("qid").orderBy("adc_micro", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PQ_TOPK)
        .select("qid", "rnk", "vec_id", "adc_micro")
    )


@register(
    "geom_check_validity",
    """SELECT geom_id, reason, is_valid FROM (VALUES
  (1, 'valid', true),
  (2, 'self_intersection', false),
  (3, 'orientation', false),
  (4, 'unclosed', false),
  (5, 'duplicate_points', false)
) AS t(geom_id, reason, is_valid)""",
)
def q_geom_check_validity(spark, sf_dir):
    """gdal vector check-geometry (apps/gdalalg_vector_check_geometry.cpp;
    GEOS IsValidOp reasons) — the REPORTING half next to MakeValid's
    repair half: per-ring OGC validity with the first failing rule named
    (unclosed / too_few_points / duplicate_points / self_intersection /
    orientation).  Exact proper-intersection segment test, Arrow-batched
    per ring, map-only (spatial/geometry.py:check_ring_validity)."""
    import pandas as pd

    rows = [
        (1, [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]),
        (2, [[0.0, 0.0], [2.0, 2.0], [2.0, 0.0], [0.0, 2.0], [0.0, 0.0]]),
        (3, [[0.0, 0.0], [0.0, 2.0], [2.0, 2.0], [2.0, 0.0], [0.0, 0.0]]),
        (4, [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0]]),
        (5, [[0.0, 0.0], [2.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0],
             [0.0, 0.0]]),
    ]
    df = spark.createDataFrame(rows, "geom_id int, ring array<array<double>>")

    def run(batches):
        import numpy as np
        for pdf in batches:
            out = []
            for gid, ring in zip(pdf["geom_id"], pdf["ring"]):
                reason = G.check_ring_validity(
                    np.array([[float(p[0]), float(p[1])] for p in ring]))
                out.append((int(gid), reason, reason == "valid"))
            yield pd.DataFrame(
                out, columns=["geom_id", "reason", "is_valid"])

    return df.mapInPandas(
        run, schema="geom_id int, reason string, is_valid boolean")


# ===========================================================================
# gdal raster as-features / nodata-to-alpha (named CLI parity)
# ===========================================================================

_AF_N, _AF_RES, _AF_X0, _AF_Y0 = 64, 0.5, 10.0, 20.0


@register(
    "raster_as_features",
    f"""WITH gx AS (SELECT unnest(generate_series(0, {_AF_N - 1})) AS gx),
gy AS (SELECT unnest(generate_series(0, {_AF_N - 1})) AS gy)
SELECT gx, gy,
       {_AF_X0} + gx * {_AF_RES} AS xmin,
       {_AF_Y0} - (gy + 1) * {_AF_RES} AS ymin,
       {_AF_X0} + (gx + 1) * {_AF_RES} AS xmax,
       {_AF_Y0} - gy * {_AF_RES} AS ymax,
       {TL.sql_pixel_value('gx', 'gy', '1')} AS v
FROM gx CROSS JOIN gy""",
)
def q_raster_as_features(spark, sf_dir):
    """gdal raster as-features (apps/gdalalg_raster_as_features.cpp):
    one POLYGON feature per pixel — corners from the geotransform
    (origin ({_AF_X0}, {_AF_Y0}), res {_AF_RES}, y-down) + the band
    value.  Pure projection per pixel, no shuffle; at scale each
    executor emits its own block's features."""
    g = spark.range(_AF_N * _AF_N).select(
        (F.col("id") % _AF_N).cast("int").alias("gx"),
        (F.col("id") / F.lit(_AF_N)).cast("int").alias("gy"),
    )
    return g.select(
        "gx", "gy",
        (F.lit(_AF_X0) + F.col("gx") * _AF_RES).alias("xmin"),
        (F.lit(_AF_Y0) - (F.col("gy") + 1) * _AF_RES).alias("ymin"),
        (F.lit(_AF_X0) + (F.col("gx") + 1) * _AF_RES).alias("xmax"),
        (F.lit(_AF_Y0) - F.col("gy") * _AF_RES).alias("ymax"),
        F.expr(TL.sql_pixel_value("gx", "gy", "1")).alias("v"),
    )


@register(
    "raster_nodata_to_alpha",
    f"""WITH gx AS (SELECT unnest(generate_series(0, 255)) AS gx),
gy AS (SELECT unnest(generate_series(0, 255)) AS gy),
p AS (SELECT gx, gy, {TL.sql_pixel_value('gx', 'gy', '1')} AS v
      FROM gx CROSS JOIN gy),
a AS (SELECT gx, gy, v,
             CASE WHEN v = 37.0 THEN 0 ELSE 255 END AS alpha FROM p)
SELECT count(*) FILTER (WHERE alpha = 0)::bigint AS n_transparent,
       count(*) FILTER (WHERE alpha = 255)::bigint AS n_opaque,
       sum((CAST(v AS BIGINT) * 31 + alpha) * ((gx * 7 + gy * 3) % 13))::bigint
         AS digest
FROM a""",
)
def q_raster_nodata_to_alpha(spark, sf_dir):
    """gdal raster nodata-to-alpha (apps/gdalalg_raster_nodata_to_alpha.cpp):
    append an alpha band that is 0 where the pixel equals the nodata
    value (37) and 255 elsewhere — map-only integer projection; the
    gate digests the (value, alpha) plane with a position-weighted
    integer checksum so any misclassified pixel breaks it."""
    g = spark.range(256 * 256).select(
        (F.col("id") % 256).cast("int").alias("gx"),
        (F.col("id") / F.lit(256)).cast("int").alias("gy"),
    )
    p = g.withColumn("v", F.expr(TL.sql_pixel_value("gx", "gy", "1")))
    a = p.withColumn(
        "alpha", F.when(F.col("v") == 37.0, F.lit(0)).otherwise(F.lit(255)))
    return a.agg(
        F.count(F.when(F.col("alpha") == 0, 1)).alias("n_transparent"),
        F.count(F.when(F.col("alpha") == 255, 1)).alias("n_opaque"),
        F.sum(
            (F.col("v").cast("long") * 31 + F.col("alpha"))
            * ((F.col("gx") * 7 + F.col("gy") * 3) % 13)
        ).cast("long").alias("digest"),
    )


# ===========================================================================
# TPC-H completion — Q2, Q4, Q7-Q9, Q11-Q22 (with the earlier Q1/Q3/Q5/Q6/
# Q10 gates this closes the full 22-query reach of the reference's
# ExecuteSQL SQL surface; ref SQLite dialect ogr/ogrsf_frmts/sqlite/
# ogrsqlitesqlfunctions.cpp + swq grammar ogr/swq.cpp).  The generated
# tables omit several TPC-H attributes (partsupp, commit/receipt dates,
# ship modes, containers, mfgr, phone codes, comments); each is DERIVED
# deterministically with identical integer algebra inline on BOTH engines,
# so every gate stays cross-engine exact.  Money that feeds a comparison,
# threshold, or equality is kept in integer cents (BIGINT) end-to-end;
# float sums appear only inside stable-rounded display aggregates.
# ===========================================================================

# Derived partsupp: 4 deterministic suppliers per part, integer-cent
# supply cost, modulo the ACTUAL supplier count so the derivation holds at
# every scale factor.
_TPCH_PS_SQL = """SELECT p_partkey AS ps_partkey,
       (p_partkey * 4 + ii.i) % nn.ns AS ps_suppkey,
       CAST(1 + (p_partkey * 7 + ii.i * 13) % 9999 AS BIGINT) AS ps_availqty,
       CAST(1 + (p_partkey * 31 + ii.i * 17) % 99999 AS BIGINT)
         AS ps_supplycost_c
FROM part
CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) ii
CROSS JOIN (SELECT count(*) AS ns FROM supplier) nn"""

# Derived lineitem extension: commit/receipt dates as exact integer-day
# offsets from l_shipdate, ship mode from a 7-ary key hash.
_TPCH_LX_SQL = """SELECT l.*,
       l_shipdate + ((l_orderkey * 3 + l_linenumber * 7) % 31 - 15)
         * INTERVAL 1 DAY AS l_commitdate,
       l_shipdate + (1 + (l_partkey + l_linenumber) % 14)
         * INTERVAL 1 DAY AS l_receiptdate,
       CASE CAST((l_suppkey + l_linenumber) % 7 AS INT)
            WHEN 0 THEN 'AIR' WHEN 1 THEN 'AIR REG' WHEN 2 THEN 'MAIL'
            WHEN 3 THEN 'SHIP' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'RAIL'
            ELSE 'FOB' END AS l_shipmode
FROM lineitem l"""

# Derived part extension: container class + manufacturer label.
_TPCH_PX_SQL = """SELECT part.*,
       CASE CAST(p_partkey % 4 AS INT)
            WHEN 0 THEN 'SM CASE' WHEN 1 THEN 'MED BOX'
            WHEN 2 THEN 'LG PACK' ELSE 'JUMBO JAR' END AS p_container,
       'Manufacturer#' || CAST(1 + p_partkey % 5 AS VARCHAR) AS p_mfgr
FROM part"""

_TPCH_SHIPMODES = ("AIR", "AIR REG", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB")


def _tpch_ps(spark, sf_dir):
    """Derived partsupp (Spark twin of _TPCH_PS_SQL): map-only explode of a
    4-long sequence per part — no join, no shuffle."""
    ns = _read(spark, sf_dir, "supplier").count()
    return (
        _read(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            ((F.col("p_partkey") * 4 + F.col("i")) % F.lit(int(ns)))
            .cast("long").alias("ps_suppkey"),
            (1 + (F.col("p_partkey") * 7 + F.col("i") * 13) % 9999)
            .cast("long").alias("ps_availqty"),
            (1 + (F.col("p_partkey") * 31 + F.col("i") * 17) % 99999)
            .cast("long").alias("ps_supplycost_c"),
        )
    )


def _tpch_lx(df):
    """Derived lineitem extension (Spark twin of _TPCH_LX_SQL) — pure
    column projection, whole-stage codegen."""
    d_commit = (
        (F.col("l_orderkey") * 3 + F.col("l_linenumber") * 7) % 31 - 15
    ).cast("int")
    d_receipt = (
        1 + (F.col("l_partkey") + F.col("l_linenumber")) % 14
    ).cast("int")
    idx = ((F.col("l_suppkey") + F.col("l_linenumber")) % 7).cast("int")
    mode = F.element_at(
        F.array(*[F.lit(m) for m in _TPCH_SHIPMODES]), idx + 1
    )
    return (
        df.withColumn(
            "l_commitdate",
            F.timestamp_add("DAY", d_commit, F.col("l_shipdate")),
        )
        .withColumn(
            "l_receiptdate",
            F.timestamp_add("DAY", d_receipt, F.col("l_shipdate")),
        )
        .withColumn("l_shipmode", mode)
    )


def _tpch_px(df):
    """Derived part extension (Spark twin of _TPCH_PX_SQL)."""
    container = (
        F.when(F.col("p_partkey") % 4 == 0, "SM CASE")
        .when(F.col("p_partkey") % 4 == 1, "MED BOX")
        .when(F.col("p_partkey") % 4 == 2, "LG PACK")
        .otherwise("JUMBO JAR")
    )
    mfgr = F.concat(
        F.lit("Manufacturer#"), (1 + F.col("p_partkey") % 5).cast("string")
    )
    return df.withColumn("p_container", container).withColumn(
        "p_mfgr", mfgr
    )


@register(
    "tpch_q2",
    f"""WITH ps AS ({_TPCH_PS_SQL}),
px AS ({_TPCH_PX_SQL}),
eu AS (SELECT s.s_suppkey, s.s_acctbal, s.s_name, n.n_name
       FROM supplier s
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       WHERE r.r_name = 'EUROPE'),
cand AS (SELECT p.p_partkey, p.p_mfgr, ps.ps_suppkey, ps.ps_supplycost_c
         FROM px p JOIN ps ON p.p_partkey = ps.ps_partkey
         WHERE p.p_size <= 15 AND p.p_type = 'LARGE')
SELECT eu.s_acctbal, eu.s_name, eu.n_name, c.p_partkey, c.p_mfgr,
       {SR('c.ps_supplycost_c / 100.0', 2)} AS supplycost
FROM cand c JOIN eu ON c.ps_suppkey = eu.s_suppkey
WHERE c.ps_supplycost_c =
      (SELECT min(c2.ps_supplycost_c)
       FROM cand c2 JOIN eu e2 ON c2.ps_suppkey = e2.s_suppkey
       WHERE c2.p_partkey = c.p_partkey)
ORDER BY eu.s_acctbal DESC, eu.n_name, eu.s_name, c.p_partkey
LIMIT 100""",
)
def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 minimum-cost supplier (adapted: derived partsupp, region
    EUROPE, LARGE parts ≤ size 15).  The oracle keeps the classic
    correlated-min subquery; the Spark side is its decorrelated form — a
    per-part min over the region-filtered candidates joined back on
    (partkey, exact integer-cent cost), which is what Catalyst rewrites
    the subquery to anyway.  Supplier/nation/region dimension broadcasts;
    the only shuffle is the per-part min aggregate."""
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    px = _tpch_px(_read(spark, sf_dir, "part")).filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "LARGE")
    ).select("p_partkey", "p_mfgr")
    cand = (
        _tpch_ps(spark, sf_dir)
        .join(F.broadcast(px), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu), F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    mn = cand.groupBy(F.col("p_partkey").alias("_mk")).agg(
        F.min("ps_supplycost_c").alias("_mc")
    )
    return (
        cand.join(
            F.broadcast(mn),
            (F.col("p_partkey") == F.col("_mk"))
            & (F.col("ps_supplycost_c") == F.col("_mc")),
        )
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_mfgr",
            R(F.col("ps_supplycost_c") / 100.0, 2).alias("supplycost"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@register(
    "tpch_q4",
    f"""WITH lx AS ({_TPCH_LX_SQL})
SELECT o.o_orderpriority, count(*)::BIGINT AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lx l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_commitdate < l.l_receiptdate)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority""",
)
def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 order-priority checking (derived commit/receipt dates):
    EXISTS decorrelates to a LEFT SEMI join on l_orderkey — one shuffle,
    map-side distinct on the probe side; the count is a second partial
    aggregate."""
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate")
         >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate")
           < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    late = _tpch_lx(_read(spark, sf_dir, "lineitem")).filter(
        F.col("l_commitdate") < F.col("l_receiptdate")
    ).select("l_orderkey")
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q7",
    f"""SELECT supp_nation, cust_nation, l_year,
       {SR('sum(volume)', 2)} AS revenue
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
             l.l_extendedprice * (1.0 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
             OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year""",
)
def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 volume shipping between two nations: the 5-way join keeps
    nation broadcast twice under different aliases; lineitem↔orders is
    the one real shuffle (orders pre-filtered by neither side — the
    nation predicates land on the joined row, letting AQE shrink the
    build side at runtime)."""
    n1 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_nk2"), F.col("n_name").alias("cust_nation")
    )
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate")
         >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate")
           < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_3")
        & (F.col("cust_nation") == "NATION_8")
    ) | (
        (F.col("supp_nation") == "NATION_8")
        & (F.col("cust_nation") == "NATION_3")
    )
    joined = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_nk2"))
        .filter(pair)
    )
    return (
        joined.select(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
             ).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(R(F.sum("volume"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


_Q8_NUM = SR("sum(CASE WHEN nation = 'NATION_2' THEN volume ELSE 0.0 END)", 2)
_Q8_DEN = SR("sum(volume)", 2)


@register(
    "tpch_q8",
    f"""WITH mkt AS (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
         l.l_extendedprice * (1.0 - l.l_discount) AS volume,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'STANDARD'
    AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
SELECT o_year,
       {SR(f'{_Q8_NUM} / {_Q8_DEN}', 6)}
         AS mkt_share
FROM mkt GROUP BY o_year ORDER BY o_year""",
)
def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 national market share (ASIA market, STANDARD parts,
    NATION_2's share per order year).  Numerator and denominator are
    each stable-rounded BEFORE the division so the share is a ratio of
    two bit-identical doubles on both engines.  All dimensions broadcast;
    lineitem↔orders is the only fact-fact shuffle."""
    p = _read(spark, sf_dir, "part").filter(
        F.col("p_type") == "STANDARD").select("p_partkey")
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate")
         >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate")
           < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_ck"), F.col("n_regionkey").alias("_crk"))
    r = _read(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA").select("r_regionkey")
    n2 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sk"), F.col("n_name").alias("nation"))
    li = _read(spark, sf_dir, "lineitem")
    mkt = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("_ck"))
        .join(F.broadcast(r), F.col("_crk") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("_sk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice")
             * (F.lit(1.0) - F.col("l_discount"))).alias("volume"),
            "nation",
        )
    )
    num = F.sum(
        F.when(F.col("nation") == "NATION_2", F.col("volume"))
        .otherwise(F.lit(0.0))
    )
    return (
        mkt.groupBy("o_year")
        .agg(R(R(num, 2) / R(F.sum("volume"), 2), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "tpch_q9",
    f"""WITH ps AS ({_TPCH_PS_SQL})
SELECT nation, o_year, {SR('sum(amount)', 2)} AS sum_profit
FROM (SELECT n.n_name AS nation,
             CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1.0 - l.l_discount)
               - (ps.ps_supplycost_c / 100.0) * l.l_quantity AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN ps ON ps.ps_suppkey = l.l_suppkey
             AND ps.ps_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%red%') profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC""",
)
def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 product-type profit ('%red%' parts; derived partsupp):
    amount couples the line revenue with the matched supplier's exact
    integer-cent supply cost.  partsupp is part-derived, so the ps join
    broadcasts with part; orders↔lineitem is the one fact shuffle."""
    p = _read(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")).select("p_partkey")
    ps = _tpch_ps(spark, sf_dir)
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _read(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(
            F.broadcast(ps),
            (F.col("l_suppkey") == F.col("ps_suppkey"))
            & (F.col("l_partkey") == F.col("ps_partkey")),
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - (F.col("ps_supplycost_c") / 100.0) * F.col("l_quantity")
    )
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(R(F.sum("amount"), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q11",
    f"""WITH ps AS ({_TPCH_PS_SQL}),
eu AS (SELECT s.s_suppkey FROM supplier s
       JOIN nation n ON s.s_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       WHERE r.r_name = 'EUROPE'),
vals AS (SELECT ps.ps_partkey,
                ps.ps_supplycost_c * ps.ps_availqty AS value_c
         FROM ps JOIN eu ON ps.ps_suppkey = eu.s_suppkey)
SELECT ps_partkey, sum(value_c)::BIGINT AS value_c
FROM vals
GROUP BY ps_partkey
HAVING sum(value_c) * 200 > (SELECT sum(value_c) FROM vals)
ORDER BY value_c DESC, ps_partkey""",
)
def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 important-stock identification (EUROPE suppliers,
    fraction 1/200): stock value stays in integer cents end-to-end, and
    the HAVING threshold is the pure-integer comparison
    sum*200 > total — bit-exact on both engines with no float division.
    The grand total is a broadcast scalar (Spark: cross-joined 1-row
    aggregate); one shuffle on ps_partkey."""
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _read(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE").select("r_regionkey")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey")
    )
    vals = (
        _tpch_ps(spark, sf_dir)
        .join(F.broadcast(eu), F.col("ps_suppkey") == F.col("s_suppkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_c") * F.col("ps_availqty"))
            .alias("value_c"),
        )
    )
    total = vals.agg(F.sum("value_c").alias("_total"))
    return (
        vals.groupBy("ps_partkey")
        .agg(F.sum("value_c").alias("value_c"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("value_c") * 200 > F.col("_total"))
        .select("ps_partkey", "value_c")
        .orderBy(F.desc("value_c"), "ps_partkey")
    )


@register(
    "tpch_q12",
    f"""WITH lx AS ({_TPCH_LX_SQL})
SELECT l.l_shipmode,
       sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS low_line_count
FROM orders o JOIN lx l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipmode IN ('MAIL', 'SHIP')
  AND l.l_commitdate < l.l_receiptdate
  AND l.l_shipdate < l.l_commitdate
  AND l.l_receiptdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_receiptdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_shipmode
ORDER BY l.l_shipmode""",
)
def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shipping-mode priority split (derived modes and dates):
    the mode/date predicates are all map-side on the derived columns, so
    the scan prunes before the single orders join shuffle."""
    lx = _tpch_lx(_read(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
        & (F.col("l_receiptdate")
           >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_receiptdate")
           < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_shipmode")
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        lx.join(o, lx.l_orderkey == o.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


@register(
    "tpch_q13",
    """SELECT c_count, count(*)::BIGINT AS custdist
FROM (SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC""",
)
def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 customer order-count distribution (adapted: the comment
    NOT LIKE filter becomes an order-priority exclusion INSIDE the left
    join condition, preserving zero-order customers).  Two aggregates;
    the left join is the only key shuffle — count(o_orderkey) counts
    only matched rows, exactly the SQL NULL-skip rule."""
    c = _read(spark, sf_dir, "customer").select("c_custkey")
    o = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


_Q14_NUM = SR(
    "sum(CASE WHEN p_type = 'PROMO' "
    "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END)", 2)
_Q14_DEN = SR("sum(l_extendedprice * (1.0 - l_discount))", 2)


@register(
    "tpch_q14",
    f"""SELECT {SR(f'100.0 * {_Q14_NUM} / {_Q14_DEN}', 6)} AS promo_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""",
)
def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 promotion-revenue share (PROMO p_type class): part
    broadcasts; numerator/denominator each stable-rounded before the
    ratio so the percentage is a deterministic double on both engines."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate")
         >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate")
           < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    p = _read(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    num = F.sum(
        F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            R(F.lit(100.0) * R(num, 2) / R(F.sum(disc), 2), 6)
            .alias("promo_revenue")
        )
    )


@register(
    "tpch_q15",
    f"""WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         {SR('sum(l_extendedprice * (1.0 - l_discount))', 2)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s.s_suppkey""",
)
def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 top supplier (the revenue VIEW of the spec as a CTE):
    per-supplier quarter revenue is stable-rounded at 2 dp BEFORE the
    max/equality, so the float join key is bit-identical on both
    engines.  Spark: one supplier-key shuffle, the max is a broadcast
    1-row aggregate."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate")
         >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate")
           < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            R(
                F.sum(F.col("l_extendedprice")
                      * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16",
    f"""WITH ps AS ({_TPCH_PS_SQL})
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT ps.ps_suppkey)::BIGINT AS supplier_cnt
FROM ps JOIN part p ON p.p_partkey = ps.ps_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type NOT IN ('PROMO', 'ECONOMY')
  AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND ps.ps_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size""",
)
def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 parts/supplier relationship (adapted: the complaint-
    comment supplier exclusion becomes a negative-balance exclusion):
    NOT IN over a null-free key set decorrelates to a LEFT ANTI join
    against the broadcast bad-supplier dimension; COUNT DISTINCT is one
    partial-distinct shuffle on the group keys."""
    ps = _tpch_ps(spark, sf_dir)
    p = _read(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & ~F.col("p_type").isin("PROMO", "ECONOMY")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = _read(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        ps.join(F.broadcast(p), ps.ps_partkey == p.p_partkey)
        .join(
            F.broadcast(bad),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


_Q17_SUM = SR("sum(l.l_extendedprice)", 2)


@register(
    "tpch_q17",
    f"""WITH px AS ({_TPCH_PX_SQL}),
agg AS (SELECT l_partkey, sum(l_quantity) AS sq, count(*) AS cnt
        FROM lineitem GROUP BY l_partkey)
SELECT {SR(f'{_Q17_SUM} / 7.0', 2)} AS avg_yearly
FROM lineitem l
JOIN px p ON p.p_partkey = l.l_partkey
JOIN agg a ON a.l_partkey = l.l_partkey
WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
  AND p.p_container = 'MED BOX'
  AND l.l_quantity < 0.2 * (a.sq / a.cnt)""",
)
def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 small-quantity-order revenue (derived containers; brand
    set widened so the gate is non-empty at every sf).  The correlated
    per-part average decorrelates to one partkey aggregate joined back;
    quantities are integral doubles, so sum/count — and therefore the
    0.2·avg threshold — is EXACT on both engines regardless of fold
    order."""
    li = _read(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("l_quantity").alias("_sq"),
        F.count(F.lit(1)).alias("_cnt"),
    )
    px = _tpch_px(_read(spark, sf_dir, "part")).filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
        & (F.col("p_container") == "MED BOX")
    ).select("p_partkey")
    return (
        li.join(F.broadcast(px), li.l_partkey == px.p_partkey)
        # no broadcast hint on `agg`: one row per lineitem partkey (full
        # part cardinality — fact-derived), so a forced broadcast would
        # OOM at large sf; AQE picks broadcast vs shuffle by measured size
        .join(agg, li.l_partkey == F.col("_pk"))
        .filter(
            F.col("l_quantity")
            < F.lit(0.2) * (F.col("_sq") / F.col("_cnt"))
        )
        .agg(
            R(F.sum("l_extendedprice") / F.lit(7.0), 2)
            .alias("avg_yearly")
        )
    )


@register(
    "tpch_q18",
    """WITH big AS (
  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250.0)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
LIMIT 100""",
)
def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 large-volume customers (threshold 250 sits in the p99
    tail at every generated sf, so the gate is non-empty and selective).
    Quantities are integral doubles — the HAVING sum is exact.  One
    orderkey aggregate, then the survivors join back to orders (AQE
    broadcasts when measured-small) and customer; TakeOrdered for the
    top-100."""
    li = _read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sq"))
        .filter(F.col("_sq") > 250.0)
        .select(
            "l_orderkey", F.col("_sq").cast("long").alias("sum_qty"))
    )
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        # no broadcast hint on `big`: the over-threshold orderkeys are
        # fact-derived (unbounded with sf) — AQE decides by measured size
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q19",
    f"""WITH lx AS ({_TPCH_LX_SQL}), px AS ({_TPCH_PX_SQL})
SELECT {SR('sum(l.l_extendedprice * (1.0 - l.l_discount))', 2)} AS revenue,
       count(*)::BIGINT AS n
FROM lx l JOIN px p ON p.p_partkey = l.l_partkey
WHERE l.l_shipmode IN ('AIR', 'AIR REG')
  AND ((p.p_brand = 'Brand#1' AND p.p_container IN ('SM CASE', 'MED BOX')
        AND l.l_quantity BETWEEN 1.0 AND 11.0
        AND p.p_size BETWEEN 1 AND 5)
    OR (p.p_brand = 'Brand#2' AND p.p_container IN ('MED BOX', 'LG PACK')
        AND l.l_quantity BETWEEN 10.0 AND 20.0
        AND p.p_size BETWEEN 1 AND 10)
    OR (p.p_brand = 'Brand#3' AND p.p_container IN ('LG PACK', 'JUMBO JAR')
        AND l.l_quantity BETWEEN 20.0 AND 30.0
        AND p.p_size BETWEEN 1 AND 15))""",
)
def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 discounted-revenue disjunction (derived containers and
    ship modes): the three-branch OR predicate is the classic
    pushdown/join-condition showcase — Catalyst extracts the common
    l_shipmode conjunct map-side and evaluates the disjunction on the
    broadcast-joined row."""
    lx = _tpch_lx(_read(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipmode").isin("AIR", "AIR REG"))
    px = _tpch_px(_read(spark, sf_dir, "part"))
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_container").isin("SM CASE", "MED BOX")
            & F.col("l_quantity").between(1.0, 11.0)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_container").isin("MED BOX", "LG PACK")
            & F.col("l_quantity").between(10.0, 20.0)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_container").isin("LG PACK", "JUMBO JAR")
            & F.col("l_quantity").between(20.0, 30.0)
            & F.col("p_size").between(1, 15)
        )
    )
    return (
        lx.join(F.broadcast(px), lx.l_partkey == px.p_partkey)
        .filter(branch)
        .agg(
            R(
                F.sum(F.col("l_extendedprice")
                      * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "tpch_q20",
    f"""WITH ps AS ({_TPCH_PS_SQL}),
qty AS (SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS sq
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_partkey, l_suppkey),
cand AS (SELECT DISTINCT ps.ps_suppkey
         FROM ps
         JOIN part p ON p.p_partkey = ps.ps_partkey
         JOIN qty q ON q.l_partkey = ps.ps_partkey
                   AND q.l_suppkey = ps.ps_suppkey
         WHERE p.p_name LIKE 'small%'
           AND ps.ps_availqty * 2 > q.sq)
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
JOIN cand ON cand.ps_suppkey = s.s_suppkey
WHERE r.r_name = 'EUROPE'
ORDER BY s.s_suppkey""",
)
def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 potential part promotion ('small%' parts, EUROPE
    suppliers, derived partsupp): the nested IN subqueries decorrelate
    to a (partkey, suppkey) shipment aggregate joined against the
    derived stock levels; the excess-stock test availqty·2 > Σqty is
    pure integer (quantities are integral doubles cast exactly).  One
    shuffle for the qty aggregate; everything else broadcasts."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate")
         >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate")
           < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    qty = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").cast("long").alias("sq"))
    p = _read(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")).select("p_partkey")
    cand = (
        _tpch_ps(spark, sf_dir)
        .join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            qty,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(F.col("ps_availqty") * 2 > F.col("sq"))
        .select("ps_suppkey")
        .distinct()
    )
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _read(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE").select("r_regionkey")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(cand), s.s_suppkey == F.col("ps_suppkey"))
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q21",
    f"""WITH lx AS ({_TPCH_LX_SQL})
SELECT s.s_name, count(*)::BIGINT AS numwait
FROM supplier s
JOIN lx l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_receiptdate > l1.l_commitdate
  AND n.n_name = 'NATION_3'
  AND EXISTS (SELECT 1 FROM lx l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lx l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_receiptdate > l3.l_commitdate)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name""",
)
def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 suppliers who kept orders waiting (NATION_3; derived
    dates): the EXISTS/NOT-EXISTS pair decorrelates to a LEFT SEMI plus
    a LEFT ANTI self-join of the late lines against the other-supplier
    lines of the same order — both joins hash on l_orderkey, so all
    three fact passes share one shuffle key.  The anti side pre-filters
    to late lines only; supplier and nation broadcast."""
    lx = _tpch_lx(_read(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_suppkey", "l_commitdate", "l_receiptdate")
    late1 = lx.filter(F.col("l_receiptdate") > F.col("l_commitdate"))
    o = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    s = _read(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey")
    n = _read(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3").select("n_nationkey")
    other = lx.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2"))
    other_late = late1.select(
        F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3"))
    base = (
        late1.join(o, late1.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), late1.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    base = base.join(
        other,
        (F.col("l_orderkey") == F.col("_ok2"))
        & (F.col("l_suppkey") != F.col("_sk2")),
        "left_semi",
    )
    base = base.join(
        other_late,
        (F.col("l_orderkey") == F.col("_ok3"))
        & (F.col("l_suppkey") != F.col("_sk3")),
        "left_anti",
    )
    return (
        base.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@register(
    "tpch_q22",
    f"""WITH cx AS (
  SELECT c_custkey, c_acctbal,
         CAST(10 + c_custkey % 25 AS BIGINT) AS cntrycode,
         CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_c
  FROM customer),
pos AS (SELECT sum(bal_c) AS total_c, count(*) AS n
        FROM cx WHERE bal_c > 0
          AND cntrycode IN (11, 13, 17, 19, 21, 23, 25))
SELECT cntrycode, count(*)::BIGINT AS numcust,
       {SR('sum(c_acctbal)', 2)} AS totacctbal
FROM cx, pos
WHERE cntrycode IN (11, 13, 17, 19, 21, 23, 25)
  AND bal_c * pos.n > pos.total_c
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = cx.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY cntrycode
ORDER BY cntrycode""",
)
def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 global sales opportunity (derived phone country codes):
    the above-average-balance test is the pure-integer cross-multiply
    bal_c·n > Σbal_c over exact cents — no float average, no boundary
    lottery.  NOT EXISTS (orders) is a LEFT ANTI against the order
    custkeys; the positive-balance average is a broadcast 1-row
    aggregate."""
    cx = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal",
        (10 + F.col("c_custkey") % 25).cast("long").alias("cntrycode"),
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long")
        .alias("bal_c"),
    ).filter(F.col("cntrycode").isin(11, 13, 17, 19, 21, 23, 25))
    pos = cx.filter(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("_total_c"), F.count(F.lit(1)).alias("_n"))
    o = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate")
        >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    return (
        cx.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_c") * F.col("_n") > F.col("_total_c"))
        .join(o, cx.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            R(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ---------------------------------------------------------------------------
# Reprojection warp into a UTM target grid (gdalwarp -t_srs EPSG:32631):
# completes the warp CRS menu beyond Mercator (alg/gdalwarper.cpp dst-pixel
# loop; PROJ tmerc inverse via ogr/ogrct.cpp:1002).
# ---------------------------------------------------------------------------

_UTM_WARP_ZONE = 31
_UTM_WARP_E0 = 200000.0
_UTM_WARP_NTOP = 5500000.0
_UTM_WARP_RES = 500.0
_UTM_WARP_PX = 128


def _sql_warp_utm() -> str:
    from gdal_spark.spatial.crs import sql_utm_inverse

    e = (f"({_UTM_WARP_E0!r} + (tux.v * {_UTM_WARP_PX} + gx.v + 0.5)"
         f" * {_UTM_WARP_RES!r})")
    n = (f"({_UTM_WARP_NTOP!r} - (tuy.v * {_UTM_WARP_PX} + gy.v + 0.5)"
         f" * {_UTM_WARP_RES!r})")
    lon, lat = sql_utm_inverse(e, n, _UTM_WARP_ZONE)
    return f"""WITH gs AS (SELECT unnest(generate_series(0, {_UTM_WARP_PX - 1})) AS v),
tl AS (SELECT unnest(generate_series(0, 1)) AS v),
p AS (
  SELECT tux.v AS ux, tuy.v AS uy, gy.v AS py, gx.v AS px,
         {lon} AS lon, {lat} AS lat
  FROM tl tux CROSS JOIN tl tuy CROSS JOIN gs gy CROSS JOIN gs gx),
c AS (
  SELECT ux, uy, py, px,
         floor((lon + 180.0) / {WP.GEO_RES!r} + 1e-10)::bigint AS i,
         floor((90.0 - lat) / {WP.GEO_RES!r} + 1e-10)::bigint AS j
  FROM p),
v AS (SELECT ux, uy, py, px, (i * 31 + j * 17 + 7) % 256 AS val FROM c)
SELECT ux, uy, count(*)::bigint AS n_px, sum(val)::bigint AS val_sum,
       md5(string_agg(val::varchar, ',' ORDER BY py, px)) AS digest
FROM v GROUP BY ux, uy"""


@register("warp_utm_grid", _sql_warp_utm())
def q_warp_utm_grid(spark, sf_dir):
    """gdalwarp into a UTM zone-31 target grid (500 m pixels, 2x2 tiles
    of 128x128 over north-central Europe): dst-pixel inverse transform
    through the Kruger BETA-series tmerc inverse (spatial/crs.py — the
    same exp-expanded expression tree on Spark Columns, the numpy warp
    kernel, and the DuckDB oracle), nearest sample with the reference's
    floor(+1e-10) parity, per-tile md5 pixel digest.  Plan: per-tile
    block ranges from the exact corner inverse (Column math) + pad,
    one block equi-join shuffle, vectorized per-tile assembly —
    the warp_reproject_nearest architecture on a new CRS
    (operators/warp.py:warp_reproject_to_utm)."""
    tiles = spark.createDataFrame(
        [(ux, uy) for ux in (0, 1) for uy in (0, 1)], "ux int, uy int")
    src = WP.synthetic_geo_raster(spark)
    return WP.warp_reproject_to_utm(
        src, tiles, _UTM_WARP_ZONE, _UTM_WARP_E0, _UTM_WARP_NTOP,
        _UTM_WARP_RES, _UTM_WARP_PX)


# ---------------------------------------------------------------------------
# FineWeb custom quality filters (Penedo et al. 2024) — the post-C4/Gopher
# generation of public web-curation heuristics, completing the named-recipe
# menu (C4, Gopher, CCNet, RefinedWeb, DCLM, FineWeb).
# ---------------------------------------------------------------------------

def _sql_fineweb() -> str:
    lw = T.LINE_WORDS
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents),
n AS (SELECT doc_id, t, len(t) AS nt FROM toks),
raw AS (
  SELECT doc_id,
         array_to_string(list_slice(t, idx * {lw} + 1, idx * {lw} + {lw}), ' ')
           AS line0
  FROM (SELECT doc_id, t,
               unnest(range(0, cast(ceil(nt / {lw}.0) AS BIGINT))) AS idx
        FROM n)),
lt AS (
  SELECT doc_id,
         line0 || (CASE WHEN length(line0) % 3 = 0 THEN '.' ELSE '' END)
           AS line
  FROM raw),
per_line AS (
  SELECT doc_id, line, count(*)::bigint AS c FROM lt GROUP BY doc_id, line),
doc AS (
  SELECT doc_id,
         sum(c) AS n,
         sum(CASE WHEN line LIKE '%.' THEN c ELSE 0 END) AS np,
         sum(CASE WHEN length(line) < 30 THEN c ELSE 0 END) AS ns,
         sum(length(line) * c) AS ch,
         sum(CASE WHEN c > 1 THEN length(line) * c ELSE 0 END) AS dch
  FROM per_line GROUP BY doc_id)
SELECT doc_id,
       ((1000 * np) // n)::bigint AS punct_milli,
       (CASE WHEN ch = 0 THEN 0 ELSE (1000 * dch) // ch END)::bigint
         AS dup_char_milli,
       ((1000 * ns) // n)::bigint AS short_line_milli,
       (25 * np >= 3 * n AND 10 * dch <= ch
        AND 100 * ns <= 67 * n) AS keep
FROM doc"""


@register("text_fineweb_filters", _sql_fineweb())
def q_text_fineweb_filters(spark, sf_dir):
    """FineWeb's three line-level quality filters (terminal-punctuation
    ratio >= 0.12, duplicated-line character fraction <= 0.10, short-line
    fraction <= 0.67) as integer milli-unit ratios + keep decision —
    operators/text.py:fineweb_filters; explode, one (doc, line) partial
    aggregate, one (doc) re-aggregate, no Python."""
    return T.fineweb_filters(_read(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# ANN quality measurement: recall@k of the IVF index vs the exact scan —
# the evaluation loop every production ANN deployment runs (Faiss bench
# methodology, Johnson et al. 2017 §5; pairs with embed_ann_ivf).
# ---------------------------------------------------------------------------

def _sql_ann_recall(n_centroids: int = 8, nprobe: int = 2) -> str:
    cos = SIM.sql_cosine("q.embedding", "v.embedding")
    return f"""
WITH q0 AS (SELECT * FROM embeddings WHERE {ANN_PRED}),
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos} DESC, v.vec_id) AS rk
    FROM q0 q CROSS JOIN embeddings v WHERE v.vec_id <> q.vec_id)
  WHERE rk <= {ANN_K}),
qp AS (SELECT q0.*, {SIM.sql_ivf_probes('q0.embedding', n_centroids, EMB_DIM, nprobe)} AS probes FROM q0),
v0 AS (SELECT v.*, {SIM.sql_ivf_assign('v.embedding', n_centroids, EMB_DIM)} AS vlist FROM embeddings v),
ap AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos} DESC, v.vec_id) AS rk
    FROM qp q JOIN v0 v ON list_contains(q.probes, v.vlist)
    WHERE v.vec_id <> q.vec_id)
  WHERE rk <= {ANN_K}),
hits AS (
  SELECT e.query_id, count(a.neighbor_id)::bigint AS n_hit
  FROM ex e LEFT JOIN ap a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id)
SELECT query_id, n_hit,
       ((1000 * n_hit) // {ANN_K})::bigint AS recall_milli
FROM hits"""


@register("embed_ann_recall", _sql_ann_recall())
def q_embed_ann_recall(spark, sf_dir):
    """Recall@k of the IVF index against the exact cosine scan, per query
    (integer milli-units): the two engine paths (SIM.cosine_topk ground
    truth, SIM.ivf_topk candidate) join on (query, neighbor) and count
    hits — the standard ANN quality loop, here with BOTH sides
    reproduced exactly by the oracle so the measured recall itself is
    cross-engine exact."""
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.expr(ANN_PRED)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(emb, queries, k=ANN_K).select(
        "query_id", "neighbor_id")
    approx = SIM.ivf_topk(
        emb, queries, k=ANN_K, dim=EMB_DIM, n_centroids=8, nprobe=2
    ).select(
        F.col("query_id").alias("_aq"), F.col("neighbor_id").alias("_an"))
    hits = (
        exact.join(
            approx,
            (F.col("query_id") == F.col("_aq"))
            & (F.col("neighbor_id") == F.col("_an")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("_an").alias("n_hit"))
    )
    return hits.select(
        "query_id", "n_hit",
        F.expr(f"(1000 * n_hit) DIV {ANN_K}").cast("long")
        .alias("recall_milli"),
    )


@register(
    "snapshot_schema_evolution",
    """WITH m AS (SELECT max(o_orderkey) // 2 AS mid FROM orders),
old AS (SELECT o_orderkey AS k,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v,
               NULL::BIGINT AS urgent
        FROM orders, m WHERE o_orderkey < mid),
new AS (SELECT o_orderkey AS k,
               CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v,
               (CASE WHEN o_orderpriority = '1-URGENT'
                     THEN 1 ELSE 0 END)::BIGINT AS urgent
        FROM orders, m WHERE o_orderkey >= mid),
t AS (SELECT * FROM old UNION ALL SELECT * FROM new)
SELECT count(*)::bigint AS n_rows,
       sum(v)::bigint AS v_sum,
       count(urgent)::bigint AS n_with_col,
       coalesce(sum(urgent), 0)::bigint AS n_urgent
FROM t""",
)
def q_snapshot_schema_evolution(spark, sf_dir):
    """Snapshot-table SCHEMA EVOLUTION (Iceberg add-column semantics —
    completes the storage contract next to append / range-delete / time
    travel / MERGE): segment 1 is committed as (k, v), then the table
    gains an ``urgent`` column and segment 2 lands as (k, v, urgent).
    Reading the latest snapshot with the manifest's per-file schema
    union surfaces pre-evolution rows as NULL — no rewrite of old
    segments, count(urgent) counts exactly the post-evolution rows
    (plans/snapshots.py:read(merge_schema=True))."""
    import tempfile

    from gdal_spark.plans.snapshots import SnapshotTable

    root = tempfile.mkdtemp(prefix="gdalspark_snap_evo_")
    base = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0).cast("long").alias("urgent"),
    )
    mid = int(base.agg(F.expr("max(k) div 2")).collect()[0][0])
    tbl = SnapshotTable(root, key_col="k")
    tbl.append(base.filter(F.col("k") < mid).select("k", "v"))
    tbl.append(base.filter(F.col("k") >= mid))
    return tbl.read(spark, merge_schema=True).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("v").alias("v_sum"),
        F.count("urgent").alias("n_with_col"),
        F.coalesce(F.sum("urgent"), F.lit(0)).alias("n_urgent"),
    )


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch — completes the sketch family next to
# HLL (distinct) and CMS (heavy hitters): equi-width integer histograms are
# the classic mergeable quantile summary (sum cells to merge; Catalyst's
# partial aggregation IS the per-shard sketch + merge).
# ---------------------------------------------------------------------------

_HIST_W = 5000 * 100 // 64   # cents per bucket: 64 buckets over ~$5k span


@register(
    "sketch_hist_quantiles",
    f"""WITH v AS (SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
               AS c FROM orders),
h AS (SELECT c // {_HIST_W} AS b, count(*)::bigint AS n
      FROM v GROUP BY c // {_HIST_W}),
cum AS (SELECT b, n, sum(n) OVER (ORDER BY b)::bigint AS cn,
               (SELECT sum(n) FROM h)::bigint AS total FROM h),
qs AS (SELECT unnest([500, 900, 990]) AS q_milli),
pick AS (
  SELECT q.q_milli, min(c.b) AS bucket
  FROM qs q JOIN cum c
    ON c.cn * 1000 >= q.q_milli * c.total
  GROUP BY q.q_milli)
SELECT p.q_milli, p.bucket,
       ((p.bucket + 1) * {_HIST_W})::bigint AS upper_c,
       c.cn AS cum_rows
FROM pick p JOIN cum c ON c.b = p.bucket""",
)
def q_sketch_hist_quantiles(spark, sf_dir):
    """Quantile estimation from a MERGEABLE equi-width integer histogram
    (the third classic sketch next to the HLL and CMS gates; Greenwald–
    Khanna/KLL solve the same problem adaptively but are insertion-order
    dependent — the fixed-grid histogram is the order-free, bit-exact
    formulation): order prices quantize to cents, bucket = cents DIV W,
    one partial-agg shuffle builds the merged histogram (map-side
    partials ARE the per-shard sketches), and quantile q reads the first
    bucket whose cumulative count reaches ceil(q·n) — pure integer
    cross-multiply, no float thresholds."""
    from pyspark.sql import Window

    v = _read(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("c"))
    h = v.groupBy((F.col("c") / F.lit(_HIST_W)).cast("long").alias("b")).agg(
        F.count(F.lit(1)).alias("n"))
    cum = h.withColumn(
        "cn", F.sum("n").over(Window.orderBy("b").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)),
    ).crossJoin(F.broadcast(h.agg(F.sum("n").alias("total"))))
    qs = spark.createDataFrame([(500,), (900,), (990,)], "q_milli int")
    pick = (
        F.broadcast(qs)
        .join(cum, cum.cn * 1000 >= F.col("q_milli") * F.col("total"))
        .groupBy("q_milli")
        .agg(F.min("b").alias("bucket"))
    )
    return (
        pick.join(cum.select("b", "cn"), pick.bucket == F.col("b"))
        .select(
            "q_milli", "bucket",
            ((F.col("bucket") + 1) * _HIST_W).cast("long").alias("upper_c"),
            F.col("cn").cast("long").alias("cum_rows"),
        )
    )


@register(
    "raster_stack",
    """WITH gx AS (SELECT unnest(generate_series(0, 127)) AS x),
gy AS (SELECT unnest(generate_series(0, 127)) AS y),
b1 AS (SELECT x, y, (x * 7 + y * 3) % 251 AS v1 FROM gx CROSS JOIN gy),
b2 AS (SELECT x, y, (x * 11 + y * 13 + 5) % 241 AS v2
       FROM gx CROSS JOIN gy),
s AS (SELECT b1.x, b1.y, v1, v2 FROM b1 JOIN b2 ON b1.x = b2.x
                                            AND b1.y = b2.y)
SELECT count(*)::bigint AS n_px,
       sum(v1)::bigint AS band1_sum,
       sum(v2)::bigint AS band2_sum,
       sum((v1 * 256 + v2) * ((x * 5 + y * 9) % 17))::bigint AS digest
FROM s""",
)
def q_raster_stack(spark, sf_dir):
    """gdal raster stack (apps/gdalalg_raster_stack.cpp — combine N
    single-band inputs into one multiband dataset): two independent
    128x128 band sources align on the pixel key with ONE equi-join (the
    general shape when band sources are separate scans; a stack of
    co-partitioned tiles co-locates and the join is zip-local), then a
    position-weighted integer digest over the interleaved band tuple
    pins per-pixel alignment — any band swap or pixel shift breaks it."""
    g = spark.range(128 * 128).select(
        (F.col("id") % 128).cast("int").alias("x"),
        (F.col("id") / F.lit(128)).cast("int").alias("y"),
    )
    b1 = g.select("x", "y", ((F.col("x") * 7 + F.col("y") * 3) % 251)
                  .alias("v1"))
    b2 = g.select(
        F.col("x").alias("_x2"), F.col("y").alias("_y2"),
        ((F.col("x") * 11 + F.col("y") * 13 + 5) % 241).alias("v2"))
    s = b1.join(
        b2, (b1.x == F.col("_x2")) & (b1.y == F.col("_y2")))
    return s.agg(
        F.count(F.lit(1)).alias("n_px"),
        F.sum("v1").alias("band1_sum"),
        F.sum("v2").alias("band2_sum"),
        F.sum(
            (F.col("v1") * 256 + F.col("v2"))
            * ((F.col("x") * 5 + F.col("y") * 9) % 17)
        ).cast("long").alias("digest"),
    )


@register(
    "raster_scale_menu",
    """WITH gx AS (SELECT unnest(generate_series(0, 255)) AS x),
gy AS (SELECT unnest(generate_series(0, 255)) AS y),
p AS (SELECT x, y,
             ((x * 13 + y * 7) % 1000) / 10.0 + 3.25 AS v
      FROM gx CROSS JOIN gy),
s AS (SELECT x, y, v,
             -- scale: linear map src [3.25, 103.15] -> dst [0, 255]
             20.0 + (v - 3.25) * (220.0 - 20.0) / (103.15 - 3.25) AS scaled,
             -- unscale: band metadata v*scale + offset
             v * 2.5 + 100.0 AS unscaled
      FROM p),
t AS (SELECT x, y, scaled, unscaled,
             -- set-type Byte: round-half-up then clamp 0..255
             least(255, greatest(0,
               CAST(floor(scaled + 0.5) AS BIGINT))) AS as_byte
      FROM s)
SELECT count(*)::bigint AS n_px,
       CAST(floor(sum(scaled) * 1000 + 0.5) AS BIGINT) AS scaled_milli_sum,
       CAST(floor(sum(unscaled) * 1000 + 0.5) AS BIGINT)
         AS unscaled_milli_sum,
       sum(as_byte)::bigint AS byte_sum,
       sum(as_byte * ((x * 5 + y * 9) % 17))::bigint AS byte_digest
FROM t""",
)
def q_raster_scale_menu(spark, sf_dir):
    """gdal raster scale / unscale / set-type (apps/gdalalg_raster_scale
    .cpp linear src→dst range map; gdalalg_raster_unscale.cpp band
    scale/offset application; gdalalg_raster_set_type.cpp with
    GDALCopyWords round-and-clamp to Byte): one map-only codegen
    projection per verb over the synthetic float plane; float sums are
    milli-quantized AFTER aggregation, the Byte cast is pure integer
    (floor(x+0.5) clamp), digest is position-weighted."""
    g = spark.range(256 * 256).select(
        (F.col("id") % 256).cast("int").alias("x"),
        (F.col("id") / F.lit(256)).cast("int").alias("y"),
    )
    v = ((F.col("x") * 13 + F.col("y") * 7) % 1000) / 10.0 + 3.25
    p = g.withColumn("v", v)
    scaled = (
        F.lit(20.0)
        + (F.col("v") - 3.25) * (220.0 - 20.0) / (103.15 - 3.25)
    )
    unscaled = F.col("v") * 2.5 + 100.0
    s = p.withColumn("scaled", scaled).withColumn("unscaled", unscaled)
    as_byte = F.least(
        F.lit(255),
        F.greatest(F.lit(0), F.floor(F.col("scaled") + 0.5)),
    ).cast("long")
    t = s.withColumn("as_byte", as_byte)
    return t.agg(
        F.count(F.lit(1)).alias("n_px"),
        F.floor(F.sum("scaled") * 1000 + 0.5).cast("long")
        .alias("scaled_milli_sum"),
        F.floor(F.sum("unscaled") * 1000 + 0.5).cast("long")
        .alias("unscaled_milli_sum"),
        F.sum("as_byte").alias("byte_sum"),
        F.sum(
            F.col("as_byte") * ((F.col("x") * 5 + F.col("y") * 9) % 17)
        ).cast("long").alias("byte_digest"),
    )


@register(
    "vector_concat_mixed",
    """WITH a AS (SELECT o_orderkey AS id, o_totalprice AS price,
                 o_orderpriority AS priority, NULL::VARCHAR AS segment
          FROM orders WHERE o_orderkey % 10 = 3),
b AS (SELECT c_custkey AS id, c_acctbal AS price,
             NULL::VARCHAR AS priority, c_mktsegment AS segment
      FROM customer WHERE c_custkey % 10 = 7),
u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
SELECT count(*)::bigint AS n_rows,
       count(priority)::bigint AS n_with_priority,
       count(segment)::bigint AS n_with_segment,
       CAST(floor(sum(price) * 100 + 0.5) AS BIGINT) AS price_cents
FROM u""",
)
def q_vector_concat_mixed(spark, sf_dir):
    """gdal vector concat across layers with DIFFERENT schemas
    (apps/gdalalg_vector_concat.cpp field-list union mode): Spark's
    unionByName(allowMissingColumns=True) fills the missing fields with
    NULL — the OGR layer-concat field-union rule; count(col) then counts
    exactly each source's rows."""
    a = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 3
    ).select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderpriority").alias("priority"),
    )
    b = _read(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 10 == 7
    ).select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("price"),
        F.col("c_mktsegment").alias("segment"),
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("priority").alias("n_with_priority"),
        F.count("segment").alias("n_with_segment"),
        F.floor(F.sum("price") * 100 + 0.5).cast("long")
        .alias("price_cents"),
    )


@register(
    "snapshot_merge_delete",
    """WITH m AS (SELECT max(o_orderkey) // 2 AS mid,
                  max(o_orderkey) AS mx FROM orders),
base AS (SELECT o_orderkey AS k,
                CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
         FROM orders),
del AS (SELECT k FROM base, m WHERE k >= mid // 8 AND k < mid // 8 + 40),
upd AS (SELECT k, v + 555 AS v FROM base, m
        WHERE k >= mid // 2 AND k < mid // 2 + 60),
ins AS (SELECT mx + 1 + k AS k, k * 3 AS v FROM base, m WHERE k < 25),
touched AS (SELECT k FROM del UNION ALL SELECT k FROM upd),
final AS (SELECT k, v FROM base WHERE k NOT IN (SELECT k FROM touched)
          UNION ALL SELECT k, v FROM upd
          UNION ALL SELECT k, v FROM ins)
SELECT count(*)::bigint AS n_rows, sum(k)::bigint AS key_sum,
       sum(v)::bigint AS v_sum,
       2::bigint AS seg_rewritten, 1::bigint AS seg_carried
FROM final""",
)
def q_snapshot_merge_delete(spark, sf_dir):
    """Full-surface MERGE (Iceberg MERGE INTO with WHEN MATCHED DELETE +
    WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT): delete-flagged source
    rows remove their keys, unflagged rows upsert.  The fixture's three
    segments split at mid/2: deletes hit segment 1, updates hit segment
    2, inserts are beyond every range — so pruning measurably rewrites 2
    and carries 1 (pinned vs oracle literals); the oracle reconstructs
    the merged state from orders and never sees the files
    (plans/snapshots.py:merge_full)."""
    import tempfile

    from gdal_spark.plans.snapshots import SnapshotTable

    root = tempfile.mkdtemp(prefix="gdalspark_snap_mfull_")
    base = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("v"),
    )
    row = base.agg(
        F.expr("max(k) div 2").alias("mid"), F.max("k").alias("mx")
    ).collect()[0]
    mid, mx = int(row["mid"]), int(row["mx"])
    tbl = SnapshotTable(root, key_col="k")
    tbl.append(base.filter(F.col("k") < mid // 2))
    tbl.append(base.filter(
        (F.col("k") >= mid // 2) & (F.col("k") < mid)))
    tbl.append(base.filter(F.col("k") >= mid))
    dele = base.filter(
        (F.col("k") >= mid // 8) & (F.col("k") < mid // 8 + 40)
    ).select("k", "v", F.lit(True).alias("_delete"))
    upd = base.filter(
        (F.col("k") >= mid // 2) & (F.col("k") < mid // 2 + 60)
    ).select("k", (F.col("v") + 555).alias("v"),
             F.lit(False).alias("_delete"))
    ins = base.filter(F.col("k") < 25).select(
        (F.lit(mx) + 1 + F.col("k")).alias("k"),
        (F.col("k") * 3).cast("long").alias("v"),
        F.lit(False).alias("_delete"),
    )
    _, rewritten, carried = tbl.merge_full(
        spark, dele.unionAll(upd).unionAll(ins))
    return tbl.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("k").alias("key_sum"),
        F.sum("v").alias("v_sum"),
        F.lit(rewritten).cast("long").alias("seg_rewritten"),
        F.lit(carried).cast("long").alias("seg_carried"),
    )


@register(
    "snapshot_compact",
    """WITH base AS (SELECT o_orderkey AS k,
                CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
         FROM orders WHERE o_orderkey % 7 = 2)
SELECT count(*)::bigint AS n_rows, sum(k)::bigint AS key_sum,
       sum(v)::bigint AS v_sum,
       5::bigint AS n_compacted, 1::bigint AS n_segments_after
FROM base""",
)
def q_snapshot_compact(spark, sf_dir):
    """Table maintenance compaction (Iceberg rewrite_data_files /
    OPTIMIZE): five small appended segments rewrite into ONE; the gate
    pins the measured compaction counts AND that the data survives
    bit-identically (count/key-sum/value-sum vs the oracle's
    reconstruction — the oracle never sees the files).  Time travel to
    the pre-compaction snapshot still works because segments are
    immutable (plans/snapshots.py:compact)."""
    import tempfile

    from gdal_spark.plans.snapshots import SnapshotTable

    root = tempfile.mkdtemp(prefix="gdalspark_snap_cmp_")
    base = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 7 == 2
    ).select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("v"),
    )
    tbl = SnapshotTable(root, key_col="k")
    for b in range(5):
        tbl.append(base.filter(F.col("k") % 5 == b))
    _, n_compacted, n_carried = tbl.compact(spark)
    n_after = len(tbl._load(tbl.current_id()))
    return tbl.read(spark).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("k").alias("key_sum"),
        F.sum("v").alias("v_sum"),
        F.lit(n_compacted).cast("long").alias("n_compacted"),
        F.lit(n_after).cast("long").alias("n_segments_after"),
    )


# ---------------------------------------------------------------------------
# Cubic reprojection warp — completes the warp kernel menu
# (alg/gdalwarpkernel.cpp GWKCubic inside the gdalwarp dst-pixel loop).
# ---------------------------------------------------------------------------

def _sql_cubic_w(t: str, tap: int) -> str:
    """Catmull-Rom A=-0.5 weight CASE expression — operation order
    mirrors operators/warp.py:_np_cubic_w exactly."""
    ax = f"abs(({t}) - {float(tap)!r})"
    inner = f"((1.5 * {ax} - 2.5) * {ax} * {ax} + 1.0)"
    outer = f"(-0.5 * ((({ax} - 5.0) * {ax} + 8.0) * {ax} - 4.0))"
    return (f"(CASE WHEN {ax} < 1.0 THEN {inner} "
            f"WHEN {ax} < 2.0 THEN {outer} ELSE 0.0 END)")


def _sql_warp_cubic() -> str:
    terms = []
    for dy in (-1, 0, 1, 2):
        wy = _sql_cubic_w("fy", dy)
        for dx in (-1, 0, 1, 2):
            gx = f"x0 + {dx}" if dx >= 0 else f"x0 - {-dx}"
            gyy = f"y0 + {dy}" if dy >= 0 else f"y0 - {-dy}"
            terms.append(
                f"{_geo_val(gx, gyy)} * {_sql_cubic_w('fx', dx)} * {wy}")
    v_expr = "\n           + ".join(terms)
    return f"""
WITH gs AS (SELECT unnest(generate_series(0, 255)) AS v),
tl AS (SELECT unnest(generate_series(1, 2)) AS v),
p AS (
  SELECT ttx.v AS tx, tty.v AS ty, gy.v AS py, gx.v AS px,
         (ttx.v * 256 + gx.v + 0.5) * {_WARP_KX!r} AS sx,
         pi() * (1.0 - 2.0 * (tty.v * 256 + gy.v + 0.5) / {_WARP_NPX})
           AS t
  FROM tl ttx CROSS JOIN tl tty CROSS JOIN gs gy CROSS JOIN gs gx),
c AS (
  SELECT tx, ty, py, px, sx,
         (90.0 - degrees(atan((exp(t) - exp(-t)) / 2.0)))
           / {WP.GEO_RES!r} AS sy
  FROM p),
f AS (
  SELECT tx, ty, py, px,
         floor(sx - 0.5)::bigint AS x0, floor(sy - 0.5)::bigint AS y0,
         sx - 0.5 - floor(sx - 0.5) AS fx, sy - 0.5 - floor(sy - 0.5) AS fy
  FROM c),
vv AS (
  SELECT tx, ty, py, px,
         floor(({v_expr}) * 1e6 + 0.5)::bigint AS vi
  FROM f)
SELECT tx, ty, count(*)::bigint AS n_px, sum(vi)::bigint AS val_micro_sum,
       md5(string_agg(vi::varchar, ',' ORDER BY py, px)) AS digest
FROM vv GROUP BY tx, ty"""


@register("warp_reproject_cubic", _sql_warp_cubic())
def q_warp_reproject_cubic(spark, sf_dir):
    """Cubic reprojection warp over the central 2×2 z2 tile window —
    gdalwarp -r cubic (GWKCubic Catmull-Rom A=-0.5, 4×4 taps at
    floor(src−0.5)−1…+2, separable weights, edge clamp): the last warp
    kernel absent from the warp family (the kernel itself was verified
    at sample level by raster_sample_cubic).  Same block equi-join +
    per-tile vectorized assembly plan as the bilinear warp
    (operators/warp.py:warp_reproject_cubic)."""
    tiles = spark.createDataFrame(
        [(tx, ty) for tx in (1, 2) for ty in (1, 2)], "tx int, ty int"
    )
    src = WP.synthetic_geo_raster(spark)
    return WP.warp_reproject_cubic(src, tiles, _WARP_Z)


@register(
    "sql_qualify_topn",
    """SELECT o_custkey, o_orderkey, o_totalprice
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) <= 2
ORDER BY o_custkey, o_totalprice DESC, o_orderkey""",
)
def q_sql_qualify_topn(spark, sf_dir):
    """QUALIFY clause (SQL:2023-generation window filter; DuckDB/Snowflake
    dialect — the oracle runs the literal QUALIFY text): per-customer
    top-2 orders by price.  Spark has no QUALIFY keyword, so the engine
    side is its exact desugaring — window rank + filter — which is also
    what QUALIFY compiles to; one partition-key shuffle, rank pushdown
    via WindowGroupLimit in Spark 4."""
    from pyspark.sql import Window

    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", F.desc("o_totalprice"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Mapbox Vector Tiles (ogr/ogrsf_frmts/mvt/ — public vector-tile-spec 2.1):
# the tiling-native vector FORMAT, closing the driver menu next to
# GPKG/Shapefile/FlatGeobuf/GeoJSON/GML/KML/GPX/MBTiles.
# ---------------------------------------------------------------------------

_MVT_Z = 3


def _sql_mvt() -> str:
    lon, lat = sql_lon("o_orderkey"), sql_lat("o_orderkey")
    res = TM.resolution(_MVT_Z)
    n_px = (1 << _MVT_Z) * 256
    pxg = f"((({TM.sql_meters_x(lon)}) + {TM.ORIGIN_SHIFT!r}) / {res!r})"
    pyg = f"((({TM.sql_meters_y(lat)}) + {TM.ORIGIN_SHIFT!r}) / {res!r})"
    tx = TM.sql_tile_x(lon, _MVT_Z)
    ty = TM.sql_tile_y_xyz(lat, _MVT_Z)
    return f"""
WITH pts AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 50 = 0),
q AS (
  SELECT o_orderkey, {tx} AS tx, {ty} AS ty,
         least(4095, greatest(0, CAST(floor(({pxg} - {tx} * 256.0) * 16.0
           + 1e-10) AS BIGINT))) AS mx,
         least(4095, greatest(0, CAST(floor((({n_px}.0 - {pyg})
           - {ty} * 256.0) * 16.0 + 1e-10) AS BIGINT))) AS my
  FROM pts)
SELECT tx, ty, count(*)::bigint AS n_feat,
       sum(o_orderkey)::bigint AS id_sum,
       sum(o_orderkey % 97)::bigint AS k_sum,
       sum(mx)::bigint AS x_sum, sum(my)::bigint AS y_sum,
       4096::bigint AS extent
FROM q GROUP BY tx, ty"""


@register("mvt_roundtrip", _sql_mvt())
def q_mvt_roundtrip(spark, sf_dir):
    """MVT driver gate (vector-tile-spec 2.1; ref ogr/ogrsf_frmts/mvt/):
    points quantize to tile-local extent-4096 integers by pure Column
    math (the gdal2tiles pixel chain × 16), each z3 tile ENCODES its
    features into real protobuf tile bytes (zigzag-delta MoveTo streams,
    key/value tag tables — sources/mvt.py), a SECOND distributed pass
    DECODES the blobs, and the gate aggregates the decoded ids, tags,
    and coordinates per tile — the oracle computes the same quantized
    sums analytically and never sees the bytes.  Any wire-format
    asymmetry (zigzag, varint splits, tag indexing, extent) breaks the
    roundtrip."""
    from gdal_spark.sources import mvt as MVT

    pts = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 50 == 0
    ).select(
        "o_orderkey",
        derived_lon(F.col("o_orderkey")).alias("lon"),
        derived_lat(F.col("o_orderkey")).alias("lat"),
    )
    n_px = (1 << _MVT_Z) * 256
    mxm, mym = TM.lonlat_to_meters(F.col("lon"), F.col("lat"))
    pxg, pyg = TM.meters_to_pixels(mxm, mym, _MVT_Z)
    tx, ty = TM.lonlat_to_tile(F.col("lon"), F.col("lat"), _MVT_Z)
    q = pts.select(
        "o_orderkey",
        tx.alias("tx"), ty.alias("ty"),
        F.least(F.lit(4095), F.greatest(F.lit(0), F.floor(
            (pxg - F.col("tx") * 256.0) * 16.0 + 1e-10
        ).cast("long"))).alias("mx"),
        F.least(F.lit(4095), F.greatest(F.lit(0), F.floor(
            ((F.lit(float(n_px)) - pyg) - F.col("ty") * 256.0) * 16.0
            + 1e-10
        ).cast("long"))).alias("my"),
    )

    def encode(pdf):
        import pandas as pd

        feats = [
            {"id": int(r.o_orderkey),
             "attrs": {"k": int(r.o_orderkey) % 97},
             "point": (int(r.mx), int(r.my))}
            for r in pdf.itertuples()
        ]
        buf = MVT.encode_tile(feats)
        return pd.DataFrame([{
            "tx": int(pdf["tx"].iloc[0]), "ty": int(pdf["ty"].iloc[0]),
            "blob": buf,
        }])

    tiles = q.groupBy("tx", "ty").applyInPandas(
        encode, "tx int, ty int, blob binary")

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                d = MVT.decode_tile(bytes(r.blob))
                for f in d["features"]:
                    (x, y), = f["points"]
                    rows.append({
                        "tx": int(r.tx), "ty": int(r.ty),
                        "fid": int(f["id"]), "k": int(f["attrs"]["k"]),
                        "x": int(x), "y": int(y),
                        "extent": int(d["extent"]),
                    })
            yield pd.DataFrame(rows)

    back = tiles.mapInPandas(
        decode,
        "tx int, ty int, fid long, k long, x long, y long, extent long")
    return back.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).alias("n_feat"),
        F.sum("fid").alias("id_sum"),
        F.sum("k").alias("k_sum"),
        F.sum("x").alias("x_sum"),
        F.sum("y").alias("y_sum"),
        F.min("extent").alias("extent"),
    )


_MVT_PZ = 2          # polygon-layer MVT tile zoom
_MVT_PTX, _MVT_PTY = 2, 1   # the z2 XYZ tile holding the polygon mosaic


def _sql_mvt_polygons() -> str:
    os_ = TM.ORIGIN_SHIFT
    res = TM.resolution(_MVT_PZ)
    n_px = (1 << _MVT_PZ) * 256
    mx = f"(x * {os_!r} / 180.0)"
    my = f"(ln(tan((90.0 + y) * pi() / 360.0)) / (pi() / 180.0) * {os_!r} / 180.0)"
    qx = (f"CAST(floor((({mx} + {os_!r}) / {res!r} - {_MVT_PTX * 256}.0)"
          f" * 16.0 + 1e-10) AS BIGINT)")
    qy = (f"CAST(floor((({n_px}.0 - ({my} + {os_!r}) / {res!r})"
          f" - {_MVT_PTY * 256}.0) * 16.0 + 1e-10) AS BIGINT)")
    return f"""
WITH v(poly_id, ring_idx, seq, x, y) AS ({_vertex_values()}),
q AS (SELECT poly_id, ring_idx, seq, {qx} AS qx, {qy} AS qy FROM v),
n AS (SELECT poly_id, ring_idx, count(*) AS nv
      FROM q GROUP BY poly_id, ring_idx),
e AS (SELECT a.poly_id, a.ring_idx, a.qx, a.qy, b.qx AS nx, b.qy AS ny
      FROM q a
      JOIN n t ON t.poly_id = a.poly_id AND t.ring_idx = a.ring_idx
      JOIN q b ON b.poly_id = a.poly_id AND b.ring_idx = a.ring_idx
             AND b.seq = (a.seq + 1) % t.nv)
SELECT poly_id, ring_idx,
       count(*)::bigint AS n_vtx,
       sum(qx)::bigint AS x_sum, sum(qy)::bigint AS y_sum,
       sum(qx * ny - nx * qy)::bigint AS area2
FROM e GROUP BY poly_id, ring_idx"""


@register("mvt_polygons_roundtrip", _sql_mvt_polygons())
def q_mvt_polygons_roundtrip(spark, sf_dir):
    """MVT POLYGON layer roundtrip (vector-tile-spec 2.1 ring command
    streams: MoveTo + LineTo(n−1) + ClosePath): every fixture ring
    quantizes into the z2 tile holding the mosaic (extent-4096 integers,
    out-of-tile vertices stay unclamped — the spec's buffer convention,
    exercising negative zigzag deltas), encodes as one feature per ring
    into a real tile blob, decodes back, and the gate compares per-ring
    vertex counts, coordinate sums, and the INTEGER shoelace 2·area of
    the decoded ring against the oracle's analytic quantization — a
    wire-format-independent area cross-check (sources/mvt.py)."""
    import math as _math

    import pandas as pd

    from gdal_spark.sources import mvt as MVT

    os_ = TM.ORIGIN_SHIFT
    res = TM.resolution(_MVT_PZ)
    n_px = (1 << _MVT_PZ) * 256

    p = polygons_df(spark).select("poly_id", "rings")

    def encode(batches):
        feats = []
        for pdf in batches:
            for pid, rings in zip(pdf["poly_id"], pdf["rings"]):
                for ri, ring in enumerate(G.rings_to_numpy(rings)):
                    arr = np.asarray(ring, dtype=np.float64)[:-1]
                    mx = arr[:, 0] * os_ / 180.0
                    my = (np.log(np.tan((90.0 + arr[:, 1]) * _math.pi
                                        / 360.0))
                          / (_math.pi / 180.0) * os_ / 180.0)
                    qx = np.floor(((mx + os_) / res - _MVT_PTX * 256.0)
                                  * 16.0 + 1e-10).astype(np.int64)
                    qy = np.floor(((n_px - (my + os_) / res)
                                   - _MVT_PTY * 256.0) * 16.0
                                  + 1e-10).astype(np.int64)
                    feats.append({
                        "id": int(pid) * 8 + ri, "attrs": {},
                        "ring": list(zip(qx.tolist(), qy.tolist())),
                    })
        yield pd.DataFrame([{"blob": MVT.encode_tile(feats)}])

    tile = p.coalesce(1).mapInPandas(encode, "blob binary")

    def decode(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                d = MVT.decode_tile(bytes(blob))
                for f in d["features"]:
                    pts = f["points"]
                    area2 = sum(
                        pts[i][0] * pts[(i + 1) % len(pts)][1]
                        - pts[(i + 1) % len(pts)][0] * pts[i][1]
                        for i in range(len(pts))
                    )
                    rows.append({
                        "poly_id": f["id"] // 8,
                        "ring_idx": f["id"] % 8,
                        "n_vtx": len(pts),
                        "x_sum": sum(x for x, _ in pts),
                        "y_sum": sum(y for _, y in pts),
                        "area2": area2,
                    })
            yield pd.DataFrame(rows)

    return tile.mapInPandas(
        decode,
        "poly_id long, ring_idx long, n_vtx long, x_sum long, "
        "y_sum long, area2 long",
    )


# ---------------------------------------------------------------------------
# robots.txt disallow filtering — the crawl-politeness step of every
# Common-Crawl-style pipeline (RFC 9309 path-prefix match; complements the
# domain-SUFFIX blocklist gate url_blocklist_filter with PREFIX semantics).
# ---------------------------------------------------------------------------

_ROBOTS_N_HOSTS = 50


def _sql_robots() -> str:
    return f"""
WITH docs AS (
  SELECT doc_id,
         CAST(doc_id % {_ROBOTS_N_HOSTS} AS BIGINT) AS host,
         '/' || substr(md5('u' || doc_id), 1, 2)
             || '/' || substr(md5('u' || doc_id), 3, 6) AS path
  FROM documents),
rules AS (
  SELECT CAST(unnest(range(0, {_ROBOTS_N_HOSTS})) AS BIGINT) AS host),
r2 AS (
  SELECT host,
         '/' || substr('0123456789abcdef',
                       CAST(1 + host % 8 AS INT), 1) AS disallow
  FROM rules),
j AS (
  SELECT d.doc_id, d.host, d.path,
         (substr(d.path, 1, length(r.disallow)) = r.disallow) AS blocked
  FROM docs d JOIN r2 r ON d.host = r.host)
SELECT host, count(*)::bigint AS n_urls,
       sum(CASE WHEN blocked THEN 1 ELSE 0 END)::bigint AS n_blocked,
       sum(CASE WHEN NOT blocked THEN doc_id ELSE 0 END)::bigint
         AS allowed_id_sum
FROM j GROUP BY host"""


@register("url_robots_filter", _sql_robots())
def q_url_robots_filter(spark, sf_dir):
    """robots.txt Disallow filtering (RFC 9309 longest-prefix rule, one
    rule per host here): the per-host rule table is a BROADCAST dimension
    joined on the registrable host, the path-prefix test is pure JVM
    string math, and the only shuffle is the final per-host aggregate —
    the crawl-politeness filter shape at 10^12 URLs (rules are always
    dimension-sized; URLs never shuffle on anything but the final
    group key).  Paths and rules are derived deterministically from ids
    so both engines build the identical fixture inline."""
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % _ROBOTS_N_HOSTS).cast("long").alias("host"),
        F.concat(
            F.lit("/"),
            F.substring(F.md5(F.concat(F.lit("u"),
                        F.col("doc_id").cast("string"))), 1, 2),
            F.lit("/"),
            F.substring(F.md5(F.concat(F.lit("u"),
                        F.col("doc_id").cast("string"))), 3, 6),
        ).alias("path"),
    )
    rules = spark.range(_ROBOTS_N_HOSTS).select(
        F.col("id").cast("long").alias("_rhost"),
        F.concat(
            F.lit("/"),
            F.substring(
                F.lit("0123456789abcdef"),
                (1 + F.col("id") % 8).cast("int"), 1),
        ).alias("disallow"),
    )
    j = docs.join(F.broadcast(rules), docs.host == rules._rhost)
    blocked = F.expr("substring(path, 1, length(disallow)) = disallow")
    return (
        j.withColumn("_blocked", blocked)
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum(F.when(F.col("_blocked"), 1).otherwise(0))
            .alias("n_blocked"),
            F.sum(F.when(~F.col("_blocked"), F.col("doc_id")).otherwise(0))
            .alias("allowed_id_sum"),
        )
    )


def _sql_minhash_calibration() -> str:
    rpb = MH_PERM // MH_BANDS
    band_rows = []
    for b in range(MH_BANDS):
        cols = ", ".join(
            f"sig[{b * rpb + r + 1}]::varchar" for r in range(rpb)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band, "
            f"md5(concat_ws(',', '{b}', {cols})) AS bh FROM sigs"
        )
    banded = " UNION ALL ".join(band_rows)
    agree = (
        "list_sum([CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END "
        f"FOR i IN range(1, {MH_PERM + 1})])"
    )
    inter = "len(list_intersect(ha.sh, hb.sh))"
    uni = "len(list_distinct(list_concat(ha.sh, hb.sh)))"
    return f"""
WITH sigs AS (SELECT doc_id, {D.sql_minhash_sig('text', MH_PERM)} AS sig
              FROM documents),
banded AS ({banded}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
         WHERE a.doc_id < b.doc_id),
sh AS (SELECT doc_id, {D.sql_shingles('text', 3)} AS sh FROM documents),
m AS (
  SELECT c.id_a, c.id_b,
         ((1000 * {agree}) // {MH_PERM})::bigint AS est_milli,
         ((1000 * {inter}) // {uni})::bigint AS true_milli
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
  JOIN sh ha ON ha.doc_id = c.id_a JOIN sh hb ON hb.doc_id = c.id_b)
SELECT id_a, id_b, est_milli, true_milli,
       abs(est_milli - true_milli)::bigint AS err_milli
FROM m"""


@register("dedup_minhash_calibration", _sql_minhash_calibration())
def q_dedup_minhash_calibration(spark, sf_dir):
    """MinHash CALIBRATION — the dedup family's evaluation loop (the
    Broder 1997 estimator property: signature agreement fraction is an
    unbiased Jaccard estimate; every production near-dup pipeline
    monitors this before trusting banding thresholds): for each LSH
    candidate pair, the signature-agreement estimate and the exact
    shingle Jaccard side-by-side in integer milli-units, plus the
    absolute estimator error.  Mirrors embed_ann_recall for the text
    side; both quantities reproduced exactly by the oracle so the
    measured calibration itself is cross-engine exact."""
    docs = _read(spark, sf_dir, "documents")
    # persist shares the signature compute across the pair join's two
    # sides; released by the consumer (bench.py clearCache()s + unpersists
    # persistent RDDs between queries, so sweeps never accumulate cache)
    sigs = D.minhash_signatures(docs, num_perm=MH_PERM).persist()
    pairs = D.lsh_candidate_pairs(
        sigs, bands=MH_BANDS, rows_per_band=MH_PERM // MH_BANDS)
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("_sa"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("_sb"))
    sh = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), " +").alias("_toks")
    ).select("doc_id", D.shingles_from_tokens("_toks", 3).alias("sh"))
    ha = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("_ha"))
    hb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("_hb"))
    agree = F.aggregate(
        F.zip_with(
            "_sa", "_sb",
            lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0), lambda acc, x: acc + x,
    ).cast("long")
    inter = F.size(F.array_intersect("_ha", "_hb")).cast("long")
    uni = F.size(F.array_union("_ha", "_hb")).cast("long")
    est = F.floor((1000 * agree) / F.lit(MH_PERM)).cast("long")
    tru = F.floor((1000 * inter) / uni).cast("long")
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .join(ha, "id_a").join(hb, "id_b")
        .select(
            "id_a", "id_b",
            est.alias("est_milli"), tru.alias("true_milli"),
            F.abs(est - tru).cast("long").alias("err_milli"),
        )
    )


@register(
    "sql_unpivot",
    """WITH w AS (
  SELECT o_orderpriority,
         count(*)::bigint AS n_orders,
         count(DISTINCT o_custkey)::bigint AS n_customers,
         CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) AS cents
  FROM orders GROUP BY o_orderpriority)
SELECT o_orderpriority, metric, value
FROM w UNPIVOT (value FOR metric IN (n_orders, n_customers, cents))
ORDER BY o_orderpriority, metric""",
)
def q_sql_unpivot(spark, sf_dir):
    """UNPIVOT / melt (SQL:2016 optional feature; DuckDB runs the literal
    UNPIVOT clause): wide per-priority aggregates rotate into
    (metric, value) rows — Spark's DataFrame ``unpivot`` (melt) operator,
    a pure map-side expand after the aggregate.  Complements the
    existing sql_pivot gate with the inverse rotation."""
    o = _read(spark, sf_dir, "orders")
    w = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_distinct("o_custkey").alias("n_customers"),
        F.floor(F.sum("o_totalprice") * 100 + 0.5).cast("long")
        .alias("cents"),
    )
    return (
        w.unpivot(
            ["o_orderpriority"],
            ["n_orders", "n_customers", "cents"],
            "metric", "value",
        )
        .orderBy("o_orderpriority", "metric")
    )


_GBA_SQL = """SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) AS cents
FROM orders
GROUP BY ALL
ORDER BY o_orderstatus, o_orderpriority"""


@register("sql_group_by_all", _GBA_SQL)
def q_sql_group_by_all(spark, sf_dir):
    """GROUP BY ALL (the DuckDB-popularized shorthand Spark adopted in
    3.4): ONE SQL text runs verbatim on both engines — the same
    portability contract as sql_ansi_portability; Catalyst infers the
    grouping keys from the non-aggregate select list."""
    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GBA_SQL)  # analysis binds the view immediately


# ===========================================================================
# 8.26 General-geometry overlay (round 5): Intersection / Erase against an
#      ARBITRARY concave/holed polygon method layer — ogrlayer.cpp:5386
#      Intersection, :7538 Clip, :7847 Erase with non-rect method geometry.
#      The engine runs the from-scratch noding + boundary-selection + trace
#      kernel (spatial/overlay.py); the oracle never sees the kernel — layer
#      C is rectilinear by construction, so Σ pairwise rect-decomposition
#      overlaps reproduce every area exactly (FIXTURES: polygon_records_c).
# ===========================================================================

from gdal_spark.data.pages import (  # noqa: E402
    polygon_a_rect_decomp, polygon_c_decomp, polygons_c_df,
)

def _ovp_a(spark):
    """Rectilinear A subset: the 8×8 mosaic + L-shape (65) + donut (66);
    the hexagon (64) is envelope-disjoint from every C feature by
    construction."""
    return polygons_df(spark).filter(
        (F.col("poly_id") != 64) & (F.col("poly_id") <= 66))


def _decomp_values(rows, id_name: str) -> str:
    body = ", ".join(
        f"({pid}, {x0!r}::double, {y0!r}::double, "
        f"{x1!r}::double, {y1!r}::double)"
        for pid, x0, y0, x1, y1 in rows
    )
    return f"VALUES {body}"


def _sql_overlay_poly_clip() -> str:
    return f"""WITH a(id_a, ax0, ay0, ax1, ay1) AS ({_decomp_values(polygon_a_rect_decomp(), 'id_a')}),
c(id_b, cx0, cy0, cx1, cy1) AS ({_decomp_values(polygon_c_decomp(), 'id_b')}),
j AS (
  SELECT id_a, id_b,
         greatest(0.0, least(ax1, cx1) - greatest(ax0, cx0))
           * greatest(0.0, least(ay1, cy1) - greatest(ay0, cy0)) AS o
  FROM a CROSS JOIN c)
SELECT id_a, id_b, {SR('sum(o)', 6)} AS inter_area
FROM j GROUP BY id_a, id_b HAVING sum(o) > 0"""


@register("overlay_poly_clip", _sql_overlay_poly_clip())
def q_overlay_poly_clip(spark, sf_dir):
    """Layer Intersection against GENERAL polygon method geometry
    (concave plus/U/staircase/L shapes, a holed donut, collinear shared
    edges — VERDICT r4 Missing #2 closed): candidate pairs via the
    cell-cover equi-join, exact geometry via the noding +
    boundary-selection + leftmost-turn-trace kernel per pair.  The method
    layer is rectilinear by fixture design, so the oracle is pure
    interval SQL over both layers' disjoint-rect decompositions — fully
    independent of the kernel."""
    a = _ovp_a(spark)
    out = PJ.layer_overlay_poly(a, polygons_c_df(spark), "intersection",
                                zoom=5)
    return out.select("id_a", "id_b", R("inter_area", 6).alias("inter_area"))


def _sql_overlay_poly_erase() -> str:
    return f"""WITH a(id_a, ax0, ay0, ax1, ay1) AS ({_decomp_values(polygon_a_rect_decomp(), 'id_a')}),
c(id_b, cx0, cy0, cx1, cy1) AS ({_decomp_values(polygon_c_decomp(), 'id_b')}),
ar AS (SELECT id_a, sum((ax1 - ax0) * (ay1 - ay0)) AS area
       FROM a GROUP BY id_a),
cut AS (
  SELECT id_a,
         sum(greatest(0.0, least(ax1, cx1) - greatest(ax0, cx0))
           * greatest(0.0, least(ay1, cy1) - greatest(ay0, cy0))) AS e
  FROM a CROSS JOIN c GROUP BY id_a)
SELECT ar.id_a, {SR('ar.area', 6)} AS area,
       {SR('coalesce(cut.e, 0.0)', 6)} AS erased_area,
       {SR('ar.area - coalesce(cut.e, 0.0)', 6)} AS remaining_area
FROM ar LEFT JOIN cut ON ar.id_a = cut.id_a"""


@register("overlay_poly_erase", _sql_overlay_poly_erase())
def q_overlay_poly_erase(spark, sf_dir):
    """Layer Erase area accounting against the general method layer
    (pairwise-disjoint C features ⇒ area(A \\ ∪C) = area(A) − Σ area(A ∩
    C_j)); every pairwise cut computed by the general overlay kernel, A's
    own area by the shoelace over its ring arrays."""
    a = _ovp_a(spark)
    out = PJ.layer_erase_area_poly(a, polygons_c_df(spark), zoom=5)
    return out.select(
        "id_a", R("area", 6).alias("area"),
        R("erased_area", 6).alias("erased_area"),
        R("remaining_area", 6).alias("remaining_area"),
    )


_OVP_TOPO_PAIRS = ((65, 2004), (66, 2005), (22, 2003), (66, 2007))


def _sql_overlay_poly_topology() -> str:
    """Hand-checkable VALUES oracle (dissolve_noded precedent): n_parts /
    n_rings from the fixture's engineered topology — concave∩concave L's
    (1 part), a rect C-cut by the donut hole (1 part), the donut landing
    inside one mosaic cell (1 part / 2 rings), and a rect threaded
    THROUGH the hole (2 parts); areas from the interval decomposition."""
    from collections import defaultdict

    adec: dict[int, list] = defaultdict(list)
    for pid, *box in polygon_a_rect_decomp():
        adec[pid].append(tuple(box))
    cdec: dict[int, list] = defaultdict(list)
    for pid, *box in polygon_c_decomp():
        cdec[pid].append(tuple(box))
    topo = {(65, 2004): (1, 1), (66, 2005): (1, 1),
            (22, 2003): (1, 2), (66, 2007): (2, 2)}
    rows = []
    for apid, cpid in _OVP_TOPO_PAIRS:
        area = sum(
            max(0.0, min(ab[2], cb[2]) - max(ab[0], cb[0]))
            * max(0.0, min(ab[3], cb[3]) - max(ab[1], cb[1]))
            for ab in adec[apid] for cb in cdec[cpid]
        )
        import math as _m
        area = _m.floor(area * 1e6 + 0.5) / 1e6
        np_, nr = topo[(apid, cpid)]
        rows.append(
            f"({apid}::bigint, {cpid}::bigint, {np_}::int, {nr}::int, "
            f"{area!r}::double)")
    return ("SELECT * FROM (VALUES " + ", ".join(rows)
            + ") AS t(id_a, id_b, n_parts, n_rings, inter_area)")


@register("overlay_poly_topology", _sql_overlay_poly_topology())
def q_overlay_poly_topology(spark, sf_dir):
    """TOPOLOGY of the general overlay (parts/rings counts — the half an
    area oracle can't see): the four engineered pairs, kernel vs
    hand-derived VALUES."""
    ids_a = sorted({p for p, _c in _OVP_TOPO_PAIRS})
    ids_c = sorted({c for _p, c in _OVP_TOPO_PAIRS})
    a = polygons_df(spark).filter(F.col("poly_id").isin(*ids_a))
    c = polygons_c_df(spark).filter(F.col("poly_id").isin(*ids_c))
    pairs = spark.createDataFrame(
        list(_OVP_TOPO_PAIRS), "id_a long, id_b long")
    out = PJ.layer_overlay_poly(a, c, "intersection", zoom=5)
    return out.join(F.broadcast(pairs), ["id_a", "id_b"]).select(
        "id_a", "id_b", "n_parts", "n_rings",
        R("inter_area", 6).alias("inter_area"),
    )


# ---------------------------------------------------------------------------
# §8.26 Parameterized CRS families (VERDICT r4 next-step #6) — generic
# tmerc / LCC 2SP / polar stereographic / Albers via spatial/projections.py's
# dual emitter: ONE expression tree materializes as both the Spark Column
# plan (map-only, whole-stage codegen) and the DuckDB oracle SQL, so
# cross-engine float exactness holds by construction.  Reference: every EPSG
# code through PROJ (ogr/ogrct.cpp:1002); re-derived from EPSG GN7-2 /
# Snyder 1987 closed forms.
# ---------------------------------------------------------------------------

from gdal_spark.spatial import projections as PRJ  # noqa: E402


def _sql_lcc() -> str:
    x, y = PRJ.epsg_forward(2154, PRJ.col("lon"), PRJ.col("lat"))
    return f"""WITH pts AS ({SQL_POINTS})
SELECT o_orderkey, {SR(x.s, 3)} AS lcc_x, {SR(y.s, 3)} AS lcc_y
FROM pts WHERE lat BETWEEN 35.0 AND 55.0 AND lon BETWEEN -10.0 AND 15.0"""


@register("lcc_project", _sql_lcc())
def q_lcc_project(spark, sf_dir):
    """Lambert Conformal Conic 2SP forward (EPSG:2154 RGF93/Lambert-93,
    GRS80) — EPSG method 9802 closed form, mm-rounded.  Map-only column
    math; the oracle is the SAME dual-emitted expression tree in DuckDB."""
    pts = order_points(spark, sf_dir).filter(
        F.col("lat").between(35.0, 55.0) & F.col("lon").between(-10.0, 15.0)
    )
    x, y = PRJ.epsg_forward(2154, PRJ.col("lon"), PRJ.col("lat"))
    return pts.select(
        "o_orderkey", R(x.c, 3).alias("lcc_x"), R(y.c, 3).alias("lcc_y")
    )


def _utm_any_zone_xy() -> tuple["PRJ.D", "PRJ.D"]:
    """Per-row-zone GRS80 tmerc with southern false northing — the
    'any zone, any ellipsoid' generalization of the fixed-zone WGS84 pair."""
    lon, lat = PRJ.col("lon"), PRJ.col("lat")
    zone = PRJ.dfloor((lon + 180.0) / 6.0) + 1.0
    lon0 = zone * 6.0 - 183.0
    x, y_n = PRJ.tmerc_forward(
        lon, lat, ell=PRJ.GRS80, lon0=lon0, lat0=0.0, k0=0.9996,
        fe=500000.0, fn=0.0,
    )
    y = PRJ.dcase(lat < 0.0, y_n + 10000000.0, y_n)
    return zone, x, y


def _sql_utm_any_zone() -> str:
    zone, x, y = _utm_any_zone_xy()
    return f"""WITH pts AS ({SQL_POINTS})
SELECT o_orderkey, CAST({zone.s} AS INT) AS zone,
       {SR(x.s, 2)} AS easting, {SR(y.s, 2)} AS northing
FROM pts WHERE lat BETWEEN -80.0 AND 80.0"""


@register("utm_any_zone", _sql_utm_any_zone())
def q_utm_any_zone(spark, sf_dir):
    """Generic-parameter transverse Mercator: every point projected into its
    OWN UTM zone on GRS80 (the ETRS89/NAD83 figure), southern rows getting
    the 10,000 km false northing via a dual-emitted CASE — exercises
    per-row lon0 (a Column, not a constant) through the Krüger series."""
    pts = order_points(spark, sf_dir).filter(F.col("lat").between(-80.0, 80.0))
    zone, x, y = _utm_any_zone_xy()
    return pts.select(
        "o_orderkey", zone.c.cast("int").alias("zone"),
        R(x.c, 2).alias("easting"), R(y.c, 2).alias("northing"),
    )


def _polar_remap() -> tuple["PRJ.D", "PRJ.D"]:
    """Deterministic remap of the fixture's [-83,83) lat band onto the south
    polar cap [-89,-60] (same arithmetic both engines)."""
    lon, lat = PRJ.col("lon"), PRJ.col("lat")
    plat = -60.0 - (lat + 83.0) * (29.0 / 166.0)
    return lon, plat


def _sql_polar_stereo() -> str:
    lon, plat = _polar_remap()
    x, y = PRJ.polar_stereo_forward(
        lon, plat, ell=PRJ.WGS84, lat_ts=-71.0, lon0=0.0, fe=0.0, fn=0.0,
        south=True,
    )
    return f"""WITH pts AS ({SQL_POINTS})
SELECT o_orderkey, {SR(x.s, 3)} AS ps_x, {SR(y.s, 3)} AS ps_y
FROM pts"""


@register("polar_stereo_project", _sql_polar_stereo())
def q_polar_stereo_project(spark, sf_dir):
    """Polar stereographic variant B forward (EPSG:3031 Antarctic, standard
    parallel 71°S) — EPSG method 9829; fixture latitudes remapped onto the
    south polar cap.  k0 is derived from lat_ts (unit scale at 71°S,
    asserted numerically in tests/test_projections.py)."""
    pts = order_points(spark, sf_dir)
    lon, plat = _polar_remap()
    x, y = PRJ.polar_stereo_forward(
        lon, plat, ell=PRJ.WGS84, lat_ts=-71.0, lon0=0.0, fe=0.0, fn=0.0,
        south=True,
    )
    return pts.select(
        "o_orderkey", R(x.c, 3).alias("ps_x"), R(y.c, 3).alias("ps_y")
    )


def _conus_remap() -> tuple["PRJ.D", "PRJ.D"]:
    lon, lat = PRJ.col("lon"), PRJ.col("lat")
    plon = -120.0 + (lon + 180.0) * (50.0 / 360.0)
    plat = 25.0 + (lat + 83.0) * (23.0 / 166.0)
    return plon, plat


def _sql_albers() -> str:
    plon, plat = _conus_remap()
    x, y = PRJ.epsg_forward(5070, plon, plat)
    return f"""WITH pts AS ({SQL_POINTS})
SELECT o_orderkey, {SR(x.s, 3)} AS aea_x, {SR(y.s, 3)} AS aea_y
FROM pts"""


@register("albers_project", _sql_albers())
def q_albers_project(spark, sf_dir):
    """Albers equal-area conic forward (EPSG:5070 NAD83/Conus Albers) —
    EPSG method 9822 / Snyder 14-1..14-11; fixture coordinates remapped to
    the CONUS window.  The equal-area property is asserted numerically in
    tests/test_projections.py."""
    pts = order_points(spark, sf_dir)
    plon, plat = _conus_remap()
    x, y = PRJ.epsg_forward(5070, plon, plat)
    return pts.select(
        "o_orderkey", R(x.c, 3).alias("aea_x"), R(y.c, 3).alias("aea_y")
    )


def _sql_tmerc_bng() -> str:
    # STAGE the forward through a CTE: composing inverse(forward) as one
    # expression tree duplicates the Krüger series multiplicatively (a
    # 3.9 MB SQL string / equally pathological Column tree); a named
    # intermediate keeps both engines linear.
    lon, lat = PRJ.col("lon"), PRJ.col("lat")
    plon = -6.0 + (lon + 180.0) * (7.5 / 360.0)   # [-6, 1.5] — BNG window
    plat = 50.0 + (lat + 83.0) * (10.5 / 166.0)   # [50, 60.5]
    x, y = PRJ.epsg_forward(27700, plon, plat)
    lon2, lat2 = PRJ.epsg_inverse(
        27700, PRJ.col("bng_e_raw"), PRJ.col("bng_n_raw")
    )
    return f"""WITH pts AS ({SQL_POINTS}),
fwd AS (SELECT o_orderkey, {x.s} AS bng_e_raw, {y.s} AS bng_n_raw FROM pts)
SELECT o_orderkey, {SR("bng_e_raw", 3)} AS bng_e, {SR("bng_n_raw", 3)} AS bng_n,
       {SR(lon2.s, 5)} AS lon_back, {SR(lat2.s, 5)} AS lat_back
FROM fwd"""


@register("tmerc_bng_roundtrip", _sql_tmerc_bng())
def q_tmerc_bng_roundtrip(spark, sf_dir):
    """British National Grid (EPSG:27700, Airy 1830 — non-trivial lat0,
    negative false northing, non-WGS84 ellipsoid) forward AND Krüger
    beta-series inverse in one plan: projected easting/northing plus the
    recovered lon/lat (5 dp ≈ 1 m, well inside the n³-series closure
    bound measured at 2e-7°)."""
    pts = order_points(spark, sf_dir)
    lon, lat = PRJ.col("lon"), PRJ.col("lat")
    plon = -6.0 + (lon + 180.0) * (7.5 / 360.0)
    plat = 50.0 + (lat + 83.0) * (10.5 / 166.0)
    x, y = PRJ.epsg_forward(27700, plon, plat)
    fwd = pts.select(
        "o_orderkey",
        x.c.alias("bng_e_raw"), y.c.alias("bng_n_raw"),
    )
    lon2, lat2 = PRJ.epsg_inverse(
        27700, PRJ.col("bng_e_raw"), PRJ.col("bng_n_raw")
    )
    return fwd.select(
        "o_orderkey",
        R("bng_e_raw", 3).alias("bng_e"), R("bng_n_raw", 3).alias("bng_n"),
        R(lon2.c, 5).alias("lon_back"), R(lat2.c, 5).alias("lat_back"),
    )


# ---------------------------------------------------------------------------
# §8.27 Zarr v2 multidim container (VERDICT r4 next-step #7; ref frmts/zarr/,
# gcore/gdalmultidim.cpp) — directory store of JSON metadata + compressed
# C-order chunk files, one task per chunk both directions, feeding the
# operators/mdim.py view surface.
# ---------------------------------------------------------------------------

from gdal_spark.sources import zarr as ZR  # noqa: E402


def _sql_zarr() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_MD_N - 1})) AS i),
t AS (SELECT unnest(generate_series(0, {_MD_T - 1})) AS v),
cube AS (SELECT t.v AS t, gy.i AS y, gx.i AS x,
                {_md_pix('t.v', 'gy.i', 'gx.i')} AS val
         FROM t CROSS JOIN g gy CROSS JOIN g gx),
sl AS (SELECT y, x, val FROM cube WHERE t = 1),
tm AS (SELECT y, x, avg(val) AS mval FROM cube GROUP BY y, x)
SELECT sl.x AS d0, sl.y AS d1, sl.val AS v_slice,
       {SR('tm.mval', 6)} AS v_tmean
FROM sl JOIN tm ON tm.y = sl.y AND tm.x = sl.x"""


@register("zarr_mdim_roundtrip", _sql_zarr())
def q_zarr_mdim_roundtrip(spark, sf_dir):
    """Zarr v2 container gate: the (t=4, y=32, x=32) cube is written as a
    REAL Zarr v2 store (zlib chunks of 3×12×12 — deliberately non-divisor
    so edge chunks carry fill overhang that read-trim must drop), read
    back one-task-per-chunk, and pushed through the mdim views (slice t=1,
    mean over t).  Doubles survive the binary container bit-exactly; the
    oracle recomputes the cube from its generating formula."""
    import tempfile

    cube = spark.range(_MD_T * _MD_N * _MD_N).select(
        (F.col("id") / (_MD_N * _MD_N)).cast("long").alias("t"),
        ((F.col("id") / _MD_N) % _MD_N).cast("long").alias("y"),
        (F.col("id") % _MD_N).alias("x"),
    ).withColumn(
        "val",
        (F.col("t") * 17 + (F.col("x") * F.col("x")) % 31
         + (F.col("y") * 5) % 23).cast("double"),
    )
    store = tempfile.mkdtemp(prefix="gdalspark_zarr_gate_")
    ZR.write_zarr(
        cube, store, "cube", dims=["t", "y", "x"],
        shape=[_MD_T, _MD_N, _MD_N], chunks=[3, 12, 12],
    )
    back = ZR.read_zarr(spark, store, "cube")
    sl = MD.md_slice(back, {"t": 1})
    tm = MD.md_reduce(back, over=["t"], how="mean")
    return (
        sl.withColumnRenamed("val", "v_slice")
        .join(tm.withColumnRenamed("val", "mval"), ["x", "y"])
        .select(
            F.col("x").alias("d0"), F.col("y").alias("d1"),
            "v_slice", R(F.col("mval"), 6).alias("v_tmean"),
        )
    )


from gdal_spark.sources import netcdf as NCF  # noqa: E402


def _sql_netcdf() -> str:
    hole = "((t.v + gy.i + gx.i) % 7 = 0)"
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_MD_N - 1})) AS i),
t AS (SELECT unnest(generate_series(0, {_MD_T - 1})) AS v),
cube AS (SELECT t.v AS t, gy.i AS y, gx.i AS x,
                CASE WHEN {hole} THEN -1.0
                     ELSE {_md_pix('t.v', 'gy.i', 'gx.i')} END AS val
         FROM t CROSS JOIN g gy CROSS JOIN g gx),
sl AS (SELECT y, x, val FROM cube WHERE t = 2),
tm AS (SELECT y, x, avg(val) AS mval FROM cube GROUP BY y, x)
SELECT sl.x AS d0, sl.y AS d1, sl.val AS v_slice,
       {SR('tm.mval', 6)} AS v_tmean
FROM sl JOIN tm ON tm.y = sl.y AND tm.x = sl.x"""


@register("netcdf_mdim_roundtrip", _sql_netcdf())
def q_netcdf_mdim_roundtrip(spark, sf_dir):
    """netCDF classic (CDF-2) container gate (ref frmts/netcdf/
    netcdfdataset.cpp via libnetcdf; this driver is a from-scratch codec of
    the public classic-format grammar): the (t=4, y=32, x=32) cube is
    written with a punched hole — every (t+y+x)%7==0 cell is ABSENT from
    the input DataFrame, so read-back must surface the writer's
    fill_value=-1 pre-fill — one pwrite task per outermost slab, then read
    back one-task-per-slab through parse_header-only driver metadata and
    pushed through the mdim views (slice t=2, mean over t).  Doubles
    survive the big-endian container bit-exactly; the oracle recomputes
    the holed cube from its generating formula."""
    import tempfile

    cube = spark.range(_MD_T * _MD_N * _MD_N).select(
        (F.col("id") / (_MD_N * _MD_N)).cast("long").alias("t"),
        ((F.col("id") / _MD_N) % _MD_N).cast("long").alias("y"),
        (F.col("id") % _MD_N).alias("x"),
    ).withColumn(
        "val",
        (F.col("t") * 17 + (F.col("x") * F.col("x")) % 31
         + (F.col("y") * 5) % 23).cast("double"),
    ).filter((F.col("t") + F.col("y") + F.col("x")) % 7 != 0)
    path = tempfile.mktemp(prefix="gdalspark_nc_gate_", suffix=".nc")
    NCF.write_netcdf(
        cube, path, "cube", dims=["t", "y", "x"],
        shape=[_MD_T, _MD_N, _MD_N], fill_value=-1.0,
        attrs={"source": "gdal_spark mdim gate"},
    )
    back = NCF.read_netcdf(spark, path, "cube")
    sl = MD.md_slice(back, {"t": 2})
    tm = MD.md_reduce(back, over=["t"], how="mean")
    return (
        sl.withColumnRenamed("val", "v_slice")
        .join(tm.withColumnRenamed("val", "mval"), ["x", "y"])
        .select(
            F.col("x").alias("d0"), F.col("y").alias("d1"),
            "v_slice", R(F.col("mval"), 6).alias("v_tmean"),
        )
    )


# ---------------------------------------------------------------------------
# §8.28 Exact geodesics (VERDICT r4 next-step #4; ref ogr/ogrgeometry.cpp
# OGR_G_GeodesicArea/GeodesicLength → GeographicLib) — auxiliary-sphere
# inverse solver with quadrature integrals + bisection (spatial/geodesic.py,
# NOT a series port).  Oracles are ODE-refined control values
# (scripts/gen_geodesic_fixtures.py): 2-D Newton on RK4 integration of the
# geodesic ODEs, an independent formulation — agreement to <1e-11° endpoint
# error / <1 m² on 1e12 m² triangles certifies the kernel.
# ---------------------------------------------------------------------------

from gdal_spark.data import geodesic_fixtures as GFX  # noqa: E402
from gdal_spark.spatial import geodesic as GEOD  # noqa: E402


def _sql_geodesic_inverse() -> str:
    rows = ", ".join(
        f"({i}, {SR(f'CAST({s12!r} AS DOUBLE)', 2)}, "
        f"{SR(f'CAST({azi!r} AS DOUBLE)', 6)})"
        for i, (_a1, _o1, _a2, _o2, s12, azi) in enumerate(GFX.INVERSE_PAIRS)
    )
    return (
        "SELECT * FROM (VALUES " + rows +
        ") AS t(pair_id, s12_m, azi1_deg) ORDER BY pair_id"
    )


@register("geodesic_inverse_karney", _sql_geodesic_inverse())
def q_geodesic_inverse_karney(spark, sf_dir):
    """Exact inverse geodesic (distance + forward azimuth) on the embedded
    control pairs — cm-rounded s12, 1e-6°-rounded azimuth.  The kernel is
    an Arrow-batched map-only plan; at 100 TB this is one pandas kernel
    pass per partition, no shuffle."""
    pairs = spark.createDataFrame(
        [(i, a1, o1, a2, o2)
         for i, (a1, o1, a2, o2, _s, _z) in enumerate(GFX.INVERSE_PAIRS)],
        "pair_id int, lat1 double, lon1 double, lat2 double, lon2 double",
    )
    out = GEOD.inverse_df(pairs)
    return out.select(
        "pair_id",
        R("s12", 2).alias("s12_m"),
        R("azi1", 6).alias("azi1_deg"),
    ).orderBy("pair_id")


def _sql_geodesic_area() -> str:
    rows = ", ".join(
        f"({i}, {SR(f'CAST({area!r} AS DOUBLE)', -5)})"
        for i, (_la, _lo, area) in enumerate(GFX.AREA_TRIANGLES)
    )
    return (
        "SELECT * FROM (VALUES " + rows +
        ") AS t(tri_id, area_m2) ORDER BY tri_id"
    )


@register("geodesic_polygon_area_karney", _sql_geodesic_area())
def q_geodesic_polygon_area_karney(spark, sf_dir):
    """Exact geodesic polygon area (the S12 edge sum) on the embedded CCW
    control triangles, rounded to 1e5 m² (the ODE cross-check agrees to
    <1 m² on ~1e12 m² triangles).  One task per triangle; at scale this is
    a per-feature Arrow kernel over the polygon layer."""
    import pandas as pd

    tris = spark.createDataFrame(
        [(i, list(map(float, la)), list(map(float, lo)))
         for i, (la, lo, _a) in enumerate(GFX.AREA_TRIANGLES)],
        "tri_id int, lats array<double>, lons array<double>",
    )

    def run(batches):
        for pdf in batches:
            ids, areas = [], []
            for tid, la, lo in zip(pdf["tri_id"], pdf["lats"], pdf["lons"]):
                ids.append(int(tid))
                areas.append(GEOD.polygon_area_m2(
                    np.asarray(la, dtype=np.float64),
                    np.asarray(lo, dtype=np.float64)))
            yield pd.DataFrame({"tri_id": pd.Series(ids, dtype="int32"),
                                "area_m2": areas})

    out = tris.mapInPandas(run, "tri_id int, area_m2 double")
    return out.select(
        "tri_id", R("area_m2", -5).alias("area_m2")
    ).orderBy("tri_id")


# ---------------------------------------------------------------------------
# §8.29 GeoLoc INVERSE backmap (VERDICT r4 next-step #5; ref
# alg/gdalgeoloc.cpp GDALGeoLocInverseTransform + GenerateBackMap) —
# oversampled backmap raster built by quad rasterization with an
# inverse-bilinear solve, lookups refined by Newton against the exact
# forward surface (operators/geoloc.py).
# ---------------------------------------------------------------------------

_GLI_PX = "((o_orderkey % 109)::double + 4.25)"
_GLI_PY = "(((o_orderkey * 13) % 79)::double + 4.5)"


def _sql_geoloc_inverse() -> str:
    return f"""SELECT o_orderkey,
       {SR(_GLI_PX, 6)} AS px_back, {SR(_GLI_PY, 6)} AS ln_back
FROM orders ORDER BY o_orderkey LIMIT 500"""


@register("warp_geoloc_inverse", _sql_geoloc_inverse())
def q_warp_geoloc_inverse(spark, sf_dir):
    """GeoLoc inverse roundtrip: interior fractional pixel/line coords →
    forward bilinear swath transform → backmap-seeded Newton inverse →
    the original coordinates (recovered to ~1e-10 px, gated at 1e-6).
    The oracle is the generating formula — a TRUE fixed-point check, not
    a mirror of the kernel.  The backmap is a bounded broadcast; the
    inverse itself is one map-only Arrow kernel over the fact rows."""
    pts = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        ((F.col("o_orderkey") % 109).cast("double") + F.lit(4.25))
        .alias("px"),
        (((F.col("o_orderkey") * 13) % 79).cast("double") + F.lit(4.5))
        .alias("py"),
    ).orderBy("o_orderkey").limit(500)
    grid = GL.geoloc_grid(spark)
    fwd = GL.geoloc_transform(pts, grid, point_id="o_orderkey")
    glx, gly = GL.geoloc_numpy_arrays(grid)
    inv = GL.geoloc_inverse_df(fwd, glx, gly, point_id="o_orderkey")
    return inv.select(
        "o_orderkey",
        R("px_back", 6).alias("px_back"),
        R("ln_back", 6).alias("ln_back"),
    )


# ---------------------------------------------------------------------------
# §8.30 RPC DEM-height path (VERDICT r4 Missing #4 second half; ref
# alg/gdal_rpc.cpp RPCTransform with a DEM) — forward samples a DEM raster
# dimension for the height term (4 broadcast bilinear taps); the inverse
# iterates with per-iteration DEM re-evaluation (terrain intersection).
# ---------------------------------------------------------------------------

from gdal_spark.spatial.rpc import (  # noqa: E402
    dem_grid, dem_sample, rpc_dem_inverse_df, sql_dem_sample_ctes,
    sql_rpc_dem_inverse_ctes,
)

_RPCD_LON = "(10.0 + (o_orderkey % 256)::double / 64.0 - 2.0)"
_RPCD_LAT = "(45.0 + ((o_orderkey * 7) % 256)::double / 64.0 - 2.0)"


def _sql_rpc_dem() -> str:
    base = (f"SELECT o_orderkey, {_RPCD_LON} AS lon, {_RPCD_LAT} AS lat "
            "FROM orders")
    ctes = sql_dem_sample_ctes(base, "o_orderkey")
    px, ln = sql_rpc_pixel_line(rpc_fixture(), "lon", "lat", "h_dem")
    return (f"WITH {ctes}\nSELECT o_orderkey, {SR('h_dem', 6)} AS h_dem, "
            f"{SR(px, 6)} AS px, {SR(ln, 6)} AS line FROM dem")


@register("warp_rpc_dem", _sql_rpc_dem())
def q_warp_rpc_dem(spark, sf_dir):
    """Forward RPC with DEM-sourced heights: the height term comes from a
    bilinear sample of a 17×17 DEM raster dimension (4 broadcast equi-join
    taps — map-only), then the rational-cubic forward.  The oracle mirrors
    the anchor-cell tap arithmetic over closed-form grid values (the
    warp_geoloc_transform pattern) so both engines run identical float
    sequences."""
    model = rpc_fixture()
    lon = (F.lit(10.0) + (F.col("o_orderkey") % 256).cast("double")
           / F.lit(64.0) - F.lit(2.0))
    lat = (F.lit(45.0) + ((F.col("o_orderkey") * 7) % 256).cast("double")
           / F.lit(64.0) - F.lit(2.0))
    pts = _read(spark, sf_dir, "orders").select(
        "o_orderkey", lon.alias("lon"), lat.alias("lat"),
    )
    sampled = dem_sample(pts, dem_grid(spark))
    px, ln = rpc_pixel_line_cols(
        model, F.col("lon"), F.col("lat"), F.col("h_dem"))
    return sampled.select(
        "o_orderkey", R("h_dem", 6).alias("h_dem"),
        R(px, 6).alias("px"), R(ln, 6).alias("line"),
    )


def _sql_rpc_dem_inverse() -> str:
    base = ("SELECT o_orderkey, (o_orderkey % 8192)::double AS pixel, "
            "((o_orderkey * 13) % 8192)::double AS line FROM orders")
    inner = sql_rpc_dem_inverse_ctes(
        rpc_fixture(), base, "o_orderkey", n_iter=5)
    return (f"SELECT o_orderkey, pixel, line, {SR('lon', 9)} AS lon, "
            f"{SR('lat', 9)} AS lat FROM ({inner})")


@register("warp_rpc_dem_inverse", _sql_rpc_dem_inverse())
def q_warp_rpc_dem_inverse(spark, sf_dir):
    """RPC inverse with DEM intersection: each of the 5 staged refinements
    re-evaluates the terrain height at the CURRENT lon/lat estimate
    (gdal_rpc.cpp's iterative ray/DEM intersection), so the solution
    converges onto the surface rather than a constant plane."""
    model = rpc_fixture()
    base = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 8192).cast("double").alias("pixel"),
        ((F.col("o_orderkey") * 13) % 8192).cast("double").alias("line"),
    )
    out = rpc_dem_inverse_df(base, model, "pixel", "line", n_iter=5)
    return out.select(
        "o_orderkey", "pixel", "line",
        R(F.col("lon"), 9).alias("lon"), R(F.col("lat"), 9).alias("lat"),
    )


# ---------------------------------------------------------------------------
# §8.31 Baseline JPEG tile codec (VERDICT r4 Missing #7; ref frmts/jpeg/
# wrapping libjpeg) — from-scratch T.81 SOF0 encoder/decoder
# (functions/jpeg.py) wired through the MBTiles container: distributed
# render → JPEG encode → .mbtiles write → read → decode, with golden
# digests (the mbtiles_pyramid pattern) and an engine-side MAE bound.
# ---------------------------------------------------------------------------

def _jpeg_golden_rows() -> list[tuple]:
    """Local numpy mirror of the z1 JPEG tiles (inline-checksum style)."""
    import hashlib

    from gdal_spark.functions import jpeg as JPG
    from gdal_spark.functions import png as PNGF

    ts = _RB_TS
    r = 1 << (_RB_ZSRC - 1)
    w = ts * r
    rows = []
    for ty in range(2):
        for tx in range(2):
            yy, xx = np.mgrid[0:w, 0:w]
            src = TL.pixel_value(tx * w + xx, ty * w + yy, 1)
            img = PNGF.quantize_u8(
                src.reshape(ts, r, ts, r).mean(axis=(1, 3)))
            blob = JPG.encode_jpeg(img, quality=90)
            back = JPG.decode_jpeg(blob)
            mae = float(np.abs(back.astype(np.float64)
                               - img.astype(np.float64)).mean())
            rows.append((1, tx, ty, hashlib.md5(blob).hexdigest(),
                         len(blob), 1 if mae < 2.5 else 0))
    return rows


def _sql_jpeg_tiles() -> str:
    vals = ", ".join(
        f"({z}, {tx}, {ty}, '{md5}', {ln}, {ok})"
        for z, tx, ty, md5, ln, ok in _jpeg_golden_rows()
    )
    return (
        "SELECT zoom, tx, ty, jpg_md5, jpg_len, mae_ok FROM (VALUES "
        + vals + ") AS t(zoom, tx, ty, jpg_md5, jpg_len, mae_ok)"
    )


@register("mbtiles_jpeg_pyramid", _sql_jpeg_tiles())
def q_mbtiles_jpeg_pyramid(spark, sf_dir):
    """JPEG MBTiles gate: the z1 pyramid rendered and T.81-encoded on
    executors (per-image optimal Huffman), written to one .mbtiles with
    format=jpg, read back executor-side, decoded, and checked against the
    distortion bound — digests vs the local golden mirror prove the
    distributed path is byte-identical."""
    import hashlib
    import tempfile

    import pandas as pd

    from gdal_spark.functions import jpeg as JPG
    from gdal_spark.functions import png as PNGF
    from gdal_spark.sources import mbtiles as MBT

    base = TL.synthetic_raster(
        spark, zoom=_RB_ZSRC, bands=1, tile_size=_RB_TS,
        tx_range=(0, 7), ty_range=(0, 7),
    )
    out = TL.render_base_tiles(base, _RB_ZSRC, 1, "average", _RB_TS)

    def enc(batches):
        for pdf in batches:
            recs = []
            for tx, ty, data in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                img = PNGF.quantize_u8(
                    np.asarray(data, dtype=np.float64)
                    .reshape(_RB_TS, _RB_TS))
                recs.append({
                    "zoom": 1, "tx": int(tx), "ty": int(ty),
                    "jpg": JPG.encode_jpeg(img, quality=90),
                })
            yield pd.DataFrame(recs, columns=["zoom", "tx", "ty", "jpg"])

    tiles_df = out.mapInPandas(enc, "zoom long, tx long, ty long, jpg binary")
    tiles = [
        (int(r["zoom"]), int(r["tx"]), int(r["ty"]), bytes(r["jpg"]))
        for r in tiles_df.collect()
    ]
    path = tempfile.mkdtemp(prefix="gdalspark_jmbt_gate_") + "/pyr.mbtiles"
    MBT.write_mbtiles(tiles, path, name="jpeg_pyramid", fmt="jpg")
    back = MBT.read_mbtiles(spark, path)

    def digest(batches):
        for pdf in batches:
            recs = []
            for z, tx, ty, blob in zip(pdf["zoom"], pdf["tx"], pdf["ty"],
                                       pdf["tile_data"]):
                blob = bytes(blob)
                dec = JPG.decode_jpeg(blob)
                r = 1 << (_RB_ZSRC - 1)
                w = _RB_TS * r
                yy, xx = np.mgrid[0:w, 0:w]
                src = TL.pixel_value(int(tx) * w + xx, int(ty) * w + yy, 1)
                img = PNGF.quantize_u8(
                    src.reshape(_RB_TS, r, _RB_TS, r).mean(axis=(1, 3)))
                mae = float(np.abs(dec.astype(np.float64)
                                   - img.astype(np.float64)).mean())
                recs.append({
                    "zoom": int(z), "tx": int(tx), "ty": int(ty),
                    "jpg_md5": hashlib.md5(blob).hexdigest(),
                    "jpg_len": len(blob),
                    "mae_ok": 1 if mae < 2.5 else 0,
                })
            yield pd.DataFrame(recs, columns=[
                "zoom", "tx", "ty", "jpg_md5", "jpg_len", "mae_ok"])

    return back.mapInPandas(
        digest,
        "zoom long, tx long, ty long, jpg_md5 string, jpg_len long,"
        " mae_ok long",
    )


# ---------------------------------------------------------------------------
# §8.35 DDL / catalog sink gate (SURVEY §2 row 9; ref gcore/gdaldataset.cpp
# ExecuteSQL DDL surface + SQL result-layer sinks) — the full statement
# sequence CREATE TABLE ... AS SELECT → ALTER TABLE ADD COLUMNS →
# INSERT INTO → read-back, exercised through the session catalog exactly as
# tests/test_ddl_sink.py does, but driver-gated: the read-back aggregate is
# reproduced by a pure-SELECT DuckDB oracle over the same parquet input.
# ---------------------------------------------------------------------------

def _sql_ddl_ctas() -> str:
    return f"""WITH pts AS ({SQL_POINTS}),
base AS (SELECT o_orderkey, lon, lat,
                CAST(floor((lat + 90.0) / 30.0) AS BIGINT) AS band
         FROM pts),
evo AS (SELECT o_orderkey, band, lon, lat, NULL AS note FROM base
        UNION ALL
        SELECT -1, -1, 0.0, 0.0, 'sentinel')
SELECT band, count(*) AS n, count(note) AS n_note,
       {SR('sum(lon)', 4)} AS sum_lon
FROM evo GROUP BY band"""


@register("ddl_ctas_view", _sql_ddl_ctas())
def q_ddl_ctas_view(spark, sf_dir):
    """DDL sink gate: CTAS materializes an engine query into a catalog
    parquet table, ALTER TABLE ADD COLUMNS evolves it (old rows read back
    NULL), INSERT INTO appends a sentinel row, and the gate output is an
    aggregate over the evolved table — proving the statements round-trip
    through real table storage, not just the logical plan."""
    import tempfile

    loc = tempfile.mkdtemp(prefix="gdalspark_ddl_gate_")
    pts = order_points(spark, sf_dir).select(
        "o_orderkey", "lon", "lat",
        F.floor((F.col("lat") + 90.0) / 30.0).cast("long").alias("band"),
    )
    pts.createOrReplaceTempView("ddl_gate_src")
    spark.sql("DROP TABLE IF EXISTS t_ddl_gate")
    spark.sql(
        f"CREATE TABLE t_ddl_gate USING parquet LOCATION '{loc}/t' "
        "AS SELECT o_orderkey, band, lon, lat FROM ddl_gate_src"
    )
    spark.sql("ALTER TABLE t_ddl_gate ADD COLUMNS (note STRING)")
    spark.sql(
        "INSERT INTO t_ddl_gate VALUES (-1, -1, 0.0, 0.0, 'sentinel')"
    )
    out = spark.sql(
        "SELECT band, count(*) AS n, count(note) AS n_note, "
        "sum(lon) AS sum_lon FROM t_ddl_gate GROUP BY band"
    )
    return out.select(
        "band", "n", "n_note", R(F.col("sum_lon"), 4).alias("sum_lon")
    )


# ---------------------------------------------------------------------------
# §8.36 Hive-partitioned write + partition-pruned read gate (SURVEY §2
# row 81; ref gdalalg_vector_partition.cpp:94-99) — write_partitioned lays
# out orders by a derived partition column, the re-read filters on it (a
# PartitionFilters-level prune, asserted in tests/test_plans.py), and the
# aggregate is reproduced by the oracle directly from the unpartitioned
# source.
# ---------------------------------------------------------------------------

def _sql_hive_prune() -> str:
    return f"""WITH pts AS ({SQL_POINTS}),
base AS (SELECT o_orderkey, o_totalprice, lon,
                CAST(floor((lon + 180.0) / 60.0) AS BIGINT) AS lon_band
         FROM pts)
SELECT lon_band, count(*) AS n, {SR('sum(o_totalprice)', 2)} AS revenue
FROM base WHERE lon_band IN (1, 4) GROUP BY lon_band"""


@register("hive_partition_prune", _sql_hive_prune())
def q_hive_partition_prune(spark, sf_dir):
    """Hive-partitioned sink gate: orders written partitionBy(lon_band)
    (6 directories), read back with an IN-list partition predicate — the
    scan lists only the 2 matching directories (partition pruning, the
    100 TB layout contract) — then aggregated per band."""
    import tempfile

    from gdal_spark import pipeline as P

    path = tempfile.mkdtemp(prefix="gdalspark_hive_gate_") + "/orders_part"
    pts = order_points(spark, sf_dir).select(
        "o_orderkey", "o_totalprice", "lon",
        F.floor((F.col("lon") + 180.0) / 60.0).cast("long")
        .alias("lon_band"),
    )
    P.write_partitioned(pts, path, "lon_band")
    back = spark.read.parquet(path).filter(F.col("lon_band").isin(1, 4))
    return back.groupBy("lon_band").agg(
        F.count(F.lit(1)).alias("n"),
        R(F.sum("o_totalprice"), 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# §8.37 Round-5 format-driver breadth: SRTM HGT, XYZ ASCII grid, ENVI BSQ,
# DXF (refs frmts/srtmhgt/srtmhgtdataset.cpp, frmts/xyz/xyzdataset.cpp,
# frmts/raw/envidataset.cpp, ogr/ogrsf_frmts/dxf/) — each a WRITE→READ
# roundtrip whose oracle recomputes expected rows from the closed-form
# fixture and never sees the file.
# ---------------------------------------------------------------------------

_HGT_N = 65  # tile grid size for the gate (n inferred from size on read)


def _sql_srtmhgt() -> str:
    return f"""WITH t AS (SELECT unnest(generate_series(0, 3)) AS ti),
g AS (SELECT unnest(generate_series(0, {_HGT_N - 1})) AS i),
cells AS (SELECT 50 + t.ti % 2 AS lat_sw, 10 + t.ti // 2 AS lon_sw,
                 gr.i AS row, gc.i AS col,
                 (gc.i * gc.i) % 97 + (gr.i * 13) % 89
                   + (t.ti % 2) * 7 + (t.ti // 2) * 5 AS elev
          FROM t CROSS JOIN g gr CROSS JOIN g gc
          WHERE (gr.i * 7 + gc.i * 11) % 13 <> 0)
SELECT lat_sw, lon_sw, count(*)::bigint AS n,
       sum(elev * (1 + (col * 5 + row * 3) % 17))::bigint AS digest,
       {SR('sum(lon_sw + col / 64.0) + sum(lat_sw + 1.0 - row / 64.0)', 4)}
         AS georef_sum
FROM cells GROUP BY lat_sw, lon_sw"""


@register("srtmhgt_roundtrip", _sql_srtmhgt())
def q_srtmhgt_roundtrip(spark, sf_dir):
    """SRTM HGT driver gate (frmts/srtmhgt/srtmhgtdataset.cpp; public NASA
    .hgt tile spec): a 2×2 degree block of closed-form elevations with
    punched voids written as 4 big-endian tiles (SW-corner filename
    georeferencing, N→S rows), read back one-task-per-tile; voids must
    vanish and the per-sample lon/lat recovered from the name + 1/(n-1)
    spacing is pinned by the dyadic-exact georef_sum."""
    import tempfile

    from gdal_spark.sources import srtmhgt as HGT

    d = tempfile.mkdtemp(prefix="gdalspark_hgt_gate_")
    nn = _HGT_N * _HGT_N
    cells = spark.range(4 * nn).select(
        (F.lit(50) + (F.col("id") / nn).cast("long") % 2).alias("lat_sw"),
        (F.lit(10) + (F.col("id") / (2 * nn)).cast("long")).alias("lon_sw"),
        ((F.col("id") % nn) / _HGT_N).cast("long").alias("row"),
        (F.col("id") % _HGT_N).alias("col"),
    ).withColumn(
        "elev",
        (F.col("col") * F.col("col")) % 97 + (F.col("row") * 13) % 89
        + (F.col("lat_sw") - 50) * 7 + (F.col("lon_sw") - 10) * 5,
    ).filter((F.col("row") * 7 + F.col("col") * 11) % 13 != 0)
    HGT.write_hgt_tiles(cells, d, n=_HGT_N)
    back = HGT.read_hgt(spark, d)
    return back.groupBy("lat_sw", "lon_sw").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("elev")
              * (1 + (F.col("col") * 5 + F.col("row") * 3) % 17))
        .alias("digest"),
        R(F.sum(F.col("lon")) + F.sum(F.col("lat")), 4).alias("georef_sum"),
    )


_DTED_N = 61  # 3600 % (n-1) == 0 so the UHL tenth-arcsec intervals are exact


def _sql_dted() -> str:
    return f"""WITH t AS (SELECT unnest(generate_series(0, 1)) AS ti),
g AS (SELECT unnest(generate_series(0, {_DTED_N - 1})) AS i),
cells AS (SELECT 40 + t.ti AS lat_sw, -8 AS lon_sw,
                 gr.i AS row, gc.i AS col,
                 (gc.i * gc.i) % 97 + (gr.i * 13) % 89 - 45 + t.ti * 3 AS elev
          FROM t CROSS JOIN g gr CROSS JOIN g gc
          WHERE (gr.i * 7 + gc.i * 11) % 13 <> 0)
SELECT lat_sw, count(*)::bigint AS n,
       sum(elev * (1 + (col * 5 + row * 3) % 17))::bigint AS digest,
       count(*)::bigint AS georef_ok
FROM cells GROUP BY lat_sw"""


@register("dted_roundtrip", _sql_dted())
def q_dted_roundtrip(spark, sf_dir):
    """DTED driver gate (frmts/dted/dted_api.c, dted_create.c;
    MIL-PRF-89020B): two 1-degree cells of closed-form elevations with
    NEGATIVE values (exercising the format's signed-magnitude encoding)
    and punched voids, written as UHL/DSI/ACC + per-column records with
    real checksums, read back one-task-per-cell with sentinel+checksum
    verification.  georef_ok pins that every sample's lon/lat recovered
    from the UHL origin + interval fields inverts exactly to its
    row/col (so a DMS-field or interval bug fails the count)."""
    import tempfile

    from gdal_spark.sources import dted as DT

    d = tempfile.mkdtemp(prefix="gdalspark_dted_gate_")
    nn = _DTED_N * _DTED_N
    cells = spark.range(2 * nn).select(
        (F.lit(40) + (F.col("id") / nn).cast("long")).alias("lat_sw"),
        F.lit(-8).alias("lon_sw"),
        ((F.col("id") % nn) / _DTED_N).cast("long").alias("row"),
        (F.col("id") % _DTED_N).alias("col"),
    ).withColumn(
        "elev",
        (F.col("col") * F.col("col")) % 97 + (F.col("row") * 13) % 89
        - 45 + (F.col("lat_sw") - 40) * 3,
    ).filter((F.col("row") * 7 + F.col("col") * 11) % 13 != 0)
    DT.write_dted_cells(cells, d, n_lat=_DTED_N, n_lon=_DTED_N)
    back = DT.read_dted(spark, d)
    step = _DTED_N - 1
    return back.groupBy("lat_sw").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("elev")
              * (1 + (F.col("col") * 5 + F.col("row") * 3) % 17))
        .alias("digest"),
        F.sum(
            F.when(
                (F.round((F.col("lon") - F.col("lon_sw")) * step)
                 .cast("long") == F.col("col"))
                & (F.round((F.col("lat") - F.col("lat_sw")) * step)
                   .cast("long") == F.col("row")),
                F.lit(1)).otherwise(F.lit(0))
        ).alias("georef_ok"),
    )


def _sql_usgsdem() -> str:
    return f"""WITH t AS (SELECT unnest(generate_series(0, 1)) AS ti),
g AS (SELECT unnest(generate_series(0, {_DTED_N - 1})) AS i),
cells AS (SELECT 34 AS lat_sw, -120 + t.ti AS lon_sw,
                 gr.i AS row, gc.i AS col,
                 (gc.i * gc.i) % 97 + (gr.i * 13) % 89 - 45 + t.ti * 3 AS elev
          FROM t CROSS JOIN g gr CROSS JOIN g gc
          WHERE (gr.i * 7 + gc.i * 11) % 13 <> 0)
SELECT lon_sw, count(*)::bigint AS n,
       sum(elev * (1 + (col * 5 + row * 3) % 17))::bigint AS digest,
       count(*)::bigint AS georef_ok
FROM cells GROUP BY lon_sw"""


@register("usgsdem_roundtrip", _sql_usgsdem())
def q_usgsdem_roundtrip(spark, sf_dir):
    """USGS DEM driver gate (frmts/usgsdem/usgsdemdataset.cpp; public
    USGS ASCII standard): two 1-degree cells with negative elevations
    and punched voids written as Type A (fixed-offset fields, Fortran
    D-exponent floats) + one Type B text profile per column padded to
    1024-byte blocks, read back one-task-per-cell with a profile
    x-start vs column-id consistency check.  georef_ok pins that each
    sample's lon/lat from the corner + arc-second resolution fields
    inverts exactly to its row/col."""
    import tempfile

    from gdal_spark.sources import usgsdem as UD

    d = tempfile.mkdtemp(prefix="gdalspark_usgsdem_gate_")
    nn = _DTED_N * _DTED_N
    cells = spark.range(2 * nn).select(
        F.lit(34).alias("lat_sw"),
        (F.lit(-120) + (F.col("id") / nn).cast("long")).alias("lon_sw"),
        ((F.col("id") % nn) / _DTED_N).cast("long").alias("row"),
        (F.col("id") % _DTED_N).alias("col"),
    ).withColumn(
        "elev",
        (F.col("col") * F.col("col")) % 97 + (F.col("row") * 13) % 89
        - 45 + (F.col("lon_sw") + 120) * 3,
    ).filter((F.col("row") * 7 + F.col("col") * 11) % 13 != 0)
    UD.write_dem_cells(cells, d, n_lat=_DTED_N, n_lon=_DTED_N)
    back = UD.read_dem(spark, d)
    step = _DTED_N - 1
    return back.groupBy("lon_sw").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("elev")
              * (1 + (F.col("col") * 5 + F.col("row") * 3) % 17))
        .alias("digest"),
        F.sum(
            F.when(
                (F.round((F.col("lon") - F.col("lon_sw")) * step)
                 .cast("long") == F.col("col"))
                & (F.round((F.col("lat") - F.col("lat_sw")) * step)
                   .cast("long") == F.col("row")),
                F.lit(1)).otherwise(F.lit(0))
        ).alias("georef_ok"),
    )


def _sql_xyz_grid() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i),
v AS (SELECT gx.i AS x, gy.i AS y,
             (gx.i * gx.i) % 97 + (gy.i * 13) % 89 AS val
      FROM g gx CROSS JOIN g gy)
SELECT (y // 32)::bigint AS band,
       sum(val * (1 + (x * 5 + y * 3) % 17))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band"""


@register("xyz_grid_roundtrip", _sql_xyz_grid())
def q_xyz_grid_roundtrip(spark, sf_dir):
    """XYZ ASCII-grid driver gate (frmts/xyz/xyzdataset.cpp): the DEM
    written as cell-center x/y/z text lines (JVM concat, shard per
    partition) and read back as a SPLITTABLE text scan — cell indices
    recovered by dyadic-exact column math, zero Python and zero shuffle in
    the scan (plan-pinned in tests/test_new_formats.py)."""
    import tempfile

    from gdal_spark.sources import xyz as XYZ

    d = tempfile.mkdtemp(prefix="gdalspark_xyz_gate_") + "/grid"
    cells = _dem_cells(spark, _GT_W)
    XYZ.write_xyz(cells, d, xll=10.0, yll_top=50.0, cellsize=1.0 / 1024.0)
    back = XYZ.read_xyz(spark, d, xll=10.0, yll_top=50.0,
                        cellsize=1.0 / 1024.0)
    return back.groupBy((F.col("gy") / 32).cast("long").alias("band")).agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


_ENVI_W = 96


def _sql_envi() -> str:
    return f"""WITH b AS (SELECT unnest(generate_series(0, 2)) AS band),
g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT b.band, gy.i AS y, gx.i AS x,
             CASE WHEN (gx.i * 7 + gy.i * 11) % 13 = 0 THEN 0
                  ELSE (gx.i * gx.i) % 97 + (gy.i * 13) % 89
                       + b.band * 7 + 1 END AS val
      FROM b CROSS JOIN g gy CROSS JOIN g gx)
SELECT band, sum(val * (1 + (x * 5 + y * 3) % 17))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band"""


@register("envi_roundtrip", _sql_envi())
def q_envi_roundtrip(spark, sf_dir):
    """ENVI BSQ driver gate (frmts/raw/envidataset.cpp; public .hdr + raw
    format): a 3-band float32 cube with punched holes written via
    disjoint-range pwrite slabs, read back one task per (band, row-block)
    pread — holes come back as the 0.0 fill (the oracle's CASE), pinning
    the fill path and the BSQ offset math."""
    import tempfile

    from gdal_spark.sources import envi as ENVI

    hdr = tempfile.mkdtemp(prefix="gdalspark_envi_gate_") + "/img.hdr"
    w = _ENVI_W
    cells = spark.range(3 * w * w).select(
        (F.col("id") / (w * w)).cast("long").alias("band"),
        ((F.col("id") % (w * w)) / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * F.col("gx")) % 97 + (F.col("gy") * 13) % 89
         + F.col("band") * 7 + 1).cast("double"),
    ).filter((F.col("gx") * 7 + F.col("gy") * 11) % 13 != 0)
    ENVI.write_envi(cells, hdr, w, w, 3, dtype="f4", block_rows=32)
    back = ENVI.read_envi(spark, hdr, block_rows=32)
    return back.groupBy("band").agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_ehdr() -> str:
    return f"""WITH b AS (SELECT unnest(generate_series(0, 1)) AS band),
g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT b.band, gy.i AS y, gx.i AS x,
             CASE WHEN (gx.i * 7 + gy.i * 11) % 13 = 0 THEN -9999
                  ELSE (gx.i * gx.i) % 97 + (gy.i * 13) % 89
                       + b.band * 7 - 45 END AS val
      FROM b CROSS JOIN g gy CROSS JOIN g gx)
SELECT band, sum(val * (1 + (x * 5 + y * 3) % 17))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band"""


@register("ehdr_roundtrip", _sql_ehdr())
def q_ehdr_roundtrip(spark, sf_dir):
    """EHdr BIL driver gate (frmts/raw/ehdrdataset.cpp; public ESRI
    .hdr-labelled raw format): a 2-band SIGNED int16 image with punched
    holes written through the BAND-INTERLEAVED-BY-LINE layout (per
    row-block pwrite of all bands — the addressing that distinguishes
    EHdr from the ENVI gate's BSQ), read back one task per
    (band, row-block) with the strided per-row view.  Holes come back as
    the -9999 NODATA fill and negatives exercise SIGNEDINT."""
    import tempfile

    from gdal_spark.sources import ehdr as EHDR

    hdr = tempfile.mkdtemp(prefix="gdalspark_ehdr_gate_") + "/img.hdr"
    w = _ENVI_W
    cells = spark.range(2 * w * w).select(
        (F.col("id") / (w * w)).cast("long").alias("band"),
        ((F.col("id") % (w * w)) / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * F.col("gx")) % 97 + (F.col("gy") * 13) % 89
         + F.col("band") * 7 - 45).cast("double"),
    ).filter((F.col("gx") * 7 + F.col("gy") * 11) % 13 != 0)
    EHDR.write_ehdr(cells, hdr, w, w, 2, dtype="i2", block_rows=32,
                    fill=-9999.0)
    back = EHDR.read_ehdr(spark, hdr, block_rows=32)
    return back.groupBy("band").agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_rraster() -> str:
    return f"""WITH b AS (SELECT unnest(generate_series(0, 2)) AS band),
g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT b.band, gy.i AS y, gx.i AS x,
             CASE WHEN (gx.i * 7 + gy.i * 11) % 13 = 0 THEN -9999
                  ELSE (gx.i * gx.i) % 97 + (gy.i * 13) % 89
                       + b.band * 7 - 45 END AS val
      FROM b CROSS JOIN g gy CROSS JOIN g gx)
SELECT band, sum(val * (1 + (x * 5 + y * 3) % 17))::bigint AS digest,
       count(*)::bigint AS n,
       min(val)::bigint AS minv, max(val)::bigint AS maxv
FROM v GROUP BY band"""


@register("rraster_roundtrip", _sql_rraster())
def q_rraster_roundtrip(spark, sf_dir):
    """RRASTER driver gate (frmts/raw/rrasterdataset.cpp; public R
    ``raster`` package .grd/.gri format): a 3-band SIGNED int16 image
    written BIP (band-interleaved-by-PIXEL — completing the interleave
    triple next to the ENVI gate's BSQ and the EHdr gate's BIL), read
    back one task per (band, row-block).  minv/maxv re-aggregate the
    decoded pixels and must agree with the header's per-band
    minvalue/maxvalue stats (asserted in tests) — holes come back as
    the -9999 NODATA fill."""
    import tempfile

    from gdal_spark.sources import rraster as RR

    grd = tempfile.mkdtemp(prefix="gdalspark_rraster_gate_") + "/img.grd"
    w = _ENVI_W
    cells = spark.range(3 * w * w).select(
        (F.col("id") / (w * w)).cast("long").alias("band"),
        ((F.col("id") % (w * w)) / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * F.col("gx")) % 97 + (F.col("gy") * 13) % 89
         + F.col("band") * 7 - 45).cast("double"),
    ).filter((F.col("gx") * 7 + F.col("gy") * 11) % 13 != 0)
    RR.write_rraster(cells, grd, w, w, 3, dtype="i2", block_rows=32,
                     fill=-9999.0)
    back = RR.read_rraster(spark, grd, block_rows=32)
    return back.groupBy("band").agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
        F.min(F.col("val")).cast("long").alias("minv"),
        F.max(F.col("val")).cast("long").alias("maxv"),
    )


def _sql_saga() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             CASE WHEN (gx.i * 7 + gy.i * 11) % 13 = 0 THEN -9999
                  ELSE (gx.i * gx.i) % 97 + (gy.i * 13) % 89 - 45 END AS val
      FROM g gy CROSS JOIN g gx)
SELECT (y // 32)::bigint AS band_row,
       sum(val * (1 + (x * 5 + y * 3) % 17))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band_row"""


@register("saga_roundtrip", _sql_saga())
def q_saga_roundtrip(spark, sf_dir):
    """SAGA binary grid gate (frmts/saga/sagadataset.cpp; public .sgrd +
    .sdat format): a single-band int16 grid written through the format's
    BOTTOM-UP row order (file row 0 = south edge, TOPTOBOTTOM=FALSE —
    the write flips north-up gy, the read flips it back), grouped by
    NORTH-UP row bands so a missing/incorrect flip scrambles every
    digest.  POSITION_XMIN/YMIN are written as cell CENTERS per the
    spec (pinned in tests)."""
    import tempfile

    from gdal_spark.sources import saga as SAGA

    sgrd = tempfile.mkdtemp(prefix="gdalspark_saga_gate_") + "/img.sgrd"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * F.col("gx")) % 97 + (F.col("gy") * 13) % 89
         - 45).cast("double"),
    ).filter((F.col("gx") * 7 + F.col("gy") * 11) % 13 != 0)
    SAGA.write_saga(cells, sgrd, w, w, dtype="i2", block_rows=32,
                    fill=-9999.0, nodata=-9999.0)
    back = SAGA.read_saga(spark, sgrd, block_rows=32)
    return back.groupBy(
        (F.col("gy") / 32).cast("long").alias("band_row")).agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_bt() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             CASE WHEN (gx.i * 7 + gy.i * 11) % 13 = 0 THEN -9999
                  ELSE (gx.i * gx.i) % 97 + (gy.i * 13) % 89 - 45 END AS val
      FROM g gy CROSS JOIN g gx)
SELECT (x // 32)::bigint AS band_col,
       sum(val * (1 + (x * 5 + y * 3) % 17))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band_col"""


@register("bt_roundtrip", _sql_bt())
def q_bt_roundtrip(spark, sf_dir):
    """BT Binary Terrain gate (frmts/raw/btdataset.cpp; public VTP 1.3
    spec): an int16 heightfield written through the format's TRANSPOSED
    layout — column-major, each column bottom→top — with one contiguous
    pwrite per COLUMN-block and one pread per column-block on read
    (the slab contract rotated 90°).  Grouping by NORTH-UP column bands
    means a missing transpose or column flip scrambles every digest;
    negatives exercise int16, holes come back as the -9999 fill."""
    import tempfile

    from gdal_spark.sources import bt as BT

    path = tempfile.mkdtemp(prefix="gdalspark_bt_gate_") + "/img.bt"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * F.col("gx")) % 97 + (F.col("gy") * 13) % 89
         - 45).cast("double"),
    ).filter((F.col("gx") * 7 + F.col("gy") * 11) % 13 != 0)
    BT.write_bt(cells, path, w, w, dtype="i2", block_cols=32,
                fill=-9999.0)
    back = BT.read_bt(spark, path, block_cols=32)
    return back.groupBy(
        (F.col("gx") / 32).cast("long").alias("band_col")).agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_ntv2() -> str:
    glat = ("((({r} * 13) % 89 + ({c} * {c}) % 97 - 40)::double / 16.0)")
    glon = ("((({r} * {r}) % 83 + ({c} * 7) % 91 - 35)::double / 16.0)")

    def bil(g):
        return (f"({g.format(r='fy', c='fx')} * (1 - tx) * (1 - ty)"
                f" + {g.format(r='fy', c='(fx + 1)')} * tx * (1 - ty)"
                f" + {g.format(r='(fy + 1)', c='fx')} * (1 - tx) * ty"
                f" + {g.format(r='(fy + 1)', c='(fx + 1)')} * tx * ty)")

    return f"""WITH p AS (
  SELECT o_orderkey,
         (o_orderkey % 512)::double / 16.0 AS px,
         ((o_orderkey * 7) % 512)::double / 16.0 AS py
  FROM orders),
b AS (SELECT o_orderkey, px, py,
             least(floor(px), 31.0)::bigint AS fx,
             least(floor(py), 31.0)::bigint AS fy,
             px - least(floor(px), 31.0) AS tx,
             py - least(floor(py), 31.0) AS ty
      FROM p)
SELECT o_orderkey,
       {SR(f'10.0 + px / 32.0 - {bil(glon)} / 3600.0', 9)} AS lon_s,
       {SR(f'40.0 + py / 32.0 + {bil(glat)} / 3600.0', 9)} AS lat_s
FROM b"""


@register("ntv2_shift_points", _sql_ntv2())
def q_ntv2_shift_points(spark, sf_dir):
    """NTv2 datum-shift gate (frmts/raw/ntv2dataset.cpp; public .gsb
    spec): a dyadic 33×33 shift grid written through the format's
    quirks — positive-WEST header longitudes, nodes stored south→north
    and EAST→WEST, 4×float32 records — re-read from the BYTES, then
    applied to the orders point table as pure Column bilinear math
    (broadcast node-array literals; the PROJ hgridshift apply,
    map-only at fact scale).  All node values and point fractions are
    dyadic, so the shifted coordinates are exact on both engines."""
    import tempfile

    from gdal_spark.sources import ntv2 as NT

    rr, cc = np.mgrid[0:33, 0:33]
    lat_shift = (((rr * 13) % 89 + (cc * cc) % 97 - 40) / 16.0)
    lon_shift_w = (((rr * rr) % 83 + (cc * 7) % 91 - 35) / 16.0)
    path = tempfile.mkdtemp(prefix="gdalspark_ntv2_gate_") + "/shift.gsb"
    with open(path, "wb") as fh:
        fh.write(NT.ntv2_bytes([{
            "name": "GATE", "s_lat": 40.0, "n_lat": 41.0,
            "lon_min_e": 10.0, "lon_max_e": 11.0,
            "lat_inc": 1.0 / 32.0, "lon_inc": 1.0 / 32.0,
            "lat_shift": lat_shift, "lon_shift_w": lon_shift_w,
        }]))
    grid = NT.parse_ntv2(open(path, "rb").read())[0]
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.lit(10.0) + (F.col("o_orderkey") % 512).cast("double")
         / 16.0 / 32.0).alias("lon"),
        (F.lit(40.0) + ((F.col("o_orderkey") * 7) % 512).cast("double")
         / 16.0 / 32.0).alias("lat"),
    )
    lon_s, lat_s = NT.apply_shift_cols(grid, F.col("lon"), F.col("lat"))
    return o.select(
        "o_orderkey", R(lon_s, 9).alias("lon_s"), R(lat_s, 9).alias("lat_s")
    )


def _sql_kro() -> str:
    return f"""WITH b AS (SELECT unnest(generate_series(0, 2)) AS band),
g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT b.band, gy.i AS y, gx.i AS x,
             (gx.i * gx.i) % 97 + (gy.i * 13) % 89 + b.band * 7 AS val
      FROM b CROSS JOIN g gy CROSS JOIN g gx
      WHERE (gx.i * 7 + gy.i * 11) % 13 <> 0)
SELECT band, sum(val * (1 + (x * 5 + y * 3) % 17))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band"""


@register("kro_roundtrip", _sql_kro())
def q_kro_roundtrip(spark, sf_dir):
    """KRO driver gate (frmts/raw/krodataset.cpp; public Kolor Raw
    spec): a 3-component uint16 image through the format's BIG-ENDIAN
    pixel-interleaved layout — the engine's only big-endian raw pixel
    payload, so the gate pins the byte-swap path on both write and
    read.  Punched holes carry the 0 fill in the file; the gate
    restores the oracle's domain by re-applying the hole predicate
    (not by value — legitimate 0-valued pixels exist)."""
    import tempfile

    from gdal_spark.sources import kro as KRO

    path = tempfile.mkdtemp(prefix="gdalspark_kro_gate_") + "/img.kro"
    w = _ENVI_W
    cells = spark.range(3 * w * w).select(
        (F.col("id") / (w * w)).cast("long").alias("band"),
        ((F.col("id") % (w * w)) / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * F.col("gx")) % 97 + (F.col("gy") * 13) % 89
         + F.col("band") * 7).cast("double"),
    ).filter((F.col("gx") * 7 + F.col("gy") * 11) % 13 != 0)
    KRO.write_kro(cells, path, w, w, 3, dtype="u2", block_rows=32)
    back = KRO.read_kro(spark, path, block_rows=32)
    # punched holes carry the 0 fill; the fixture's off-hole values can
    # also be 0 at (x,y,band) where both residues vanish — match the
    # oracle's domain exactly by re-applying the hole predicate instead
    # of filtering on the value
    back = back.filter((F.col("gx") * 7 + F.col("gy") * 11) % 13 != 0)
    return back.groupBy("band").agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_zmap() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             (gx.i * gx.i) % 97 + (gy.i * 13) % 89 - 45 AS val
      FROM g gy CROSS JOIN g gx
      WHERE (gx.i * 7 + gy.i * 11) % 13 <> 0)
SELECT (x // 32)::bigint AS band_col,
       sum(val * (1 + (x * 5 + y * 3) % 17))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band_col"""


@register("zmap_roundtrip", _sql_zmap())
def q_zmap_roundtrip(spark, sf_dir):
    """ZMap Plus grid gate (frmts/zmap/zmapdataset.cpp; public Landmark
    ASCII format): the grid written as right-justified fixed-width text
    in the format's COLUMN-MAJOR top→bottom order with forced breaks at
    column ends, nodata holes PRESENT in the text (1e30 sentinel) and
    dropped on read — so the count pins the nodata path and the
    column-band digests pin the value order."""
    import tempfile

    from gdal_spark.sources import zmap as ZM

    path = tempfile.mkdtemp(prefix="gdalspark_zmap_gate_") + "/g.zmap"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * F.col("gx")) % 97 + (F.col("gy") * 13) % 89
         - 45).cast("double"),
    ).filter((F.col("gx") * 7 + F.col("gy") * 11) % 13 != 0)
    ZM.write_zmap(cells, path, w, w)
    back = ZM.read_zmap(spark, path)
    return back.groupBy(
        (F.col("gx") / 32).cast("long").alias("band_col")).agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


@register("dxf_roundtrip", _FMT_POINTS_ORACLE)
def q_dxf_roundtrip(spark, sf_dir):
    """DXF driver gate (ogr/ogrsf_frmts/dxf/; public group-code grammar):
    the points layer written as POINT entities — the feature key riding
    DXF's native attribute channel (layer name, group code 8) — one shard
    per partition, read back one task per shard.  Coordinates survive via
    shortest-roundtrip decimals."""
    import tempfile

    from gdal_spark.sources import dxf as DXF

    d = tempfile.mkdtemp(prefix="gdalspark_dxf_gate_") + "/pts"
    pts = _fmt_points(spark, sf_dir).select(
        F.concat_ws(":", F.col("o_orderkey"), F.col("cents")).alias("k"),
        "lon", "lat",
    )
    DXF.write_point_dxfs(pts, d, "k", num_files=4)
    back = DXF.read_point_dxfs(spark, d)
    parts = F.split(F.col("layer"), ":")
    return back.select(
        F.element_at(parts, 1).cast("long").alias("o_orderkey"),
        F.element_at(parts, 2).cast("long").alias("cents"),
        R(F.col("lon"), 6).alias("lon"),
        R(F.col("lat"), 6).alias("lat"),
    )


def _dxf_poly_values() -> str:
    """Embedded expected rows for the LWPOLYLINE gate, computed from the
    fixture metadata (outer rings of polygon_records) — the oracle never
    sees the file."""
    rows = []
    for rec in polygon_records():
        ring = np.asarray(rec["rings"][0], dtype=np.float64)
        x, y = ring[:, 0], ring[:, 1]
        area = 0.5 * abs(float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1])))
        rows.append((rec["poly_id"], len(ring),
                     np.floor(area * 1e6 + 0.5) / 1e6))
    vals = ", ".join(f"({p}, {n}, {a!r})" for p, n, a in rows)
    return (f"SELECT poly_id, n_verts, outer_area FROM (VALUES {vals})"
            " AS t(poly_id, n_verts, outer_area)")


@register("dxf_polylines_roundtrip", _dxf_poly_values())
def q_dxf_polylines_roundtrip(spark, sf_dir):
    """DXF LWPOLYLINE gate: every fixture polygon's OUTER ring written as
    a closed LWPOLYLINE (holes are separate entities in CAD practice;
    outer-ring-only is the entity's contract), read back and re-measured
    — vertex count + shoelace area vs fixture metadata."""
    import tempfile

    from gdal_spark.sources import dxf as DXF

    d = tempfile.mkdtemp(prefix="gdalspark_dxfpl_gate_") + "/pl"
    polys = polygons_df(spark).select(
        F.col("poly_id").cast("string").alias("k"),
        F.transform(F.col("rings")[0], lambda p: p[0]).alias("xs"),
        F.transform(F.col("rings")[0], lambda p: p[1]).alias("ys"),
    )
    DXF.write_polyline_dxfs(polys, d, "k", num_files=2)
    back = DXF.read_polyline_dxfs(spark, d)
    # shoelace over the decoded vertex arrays — JVM HOF math, no Python
    n = F.size(F.col("xs"))
    idx = F.sequence(F.lit(1), n - 1)
    cross = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(F.col("xs"), i) * F.element_at(F.col("ys"), i + 1)
        - F.element_at(F.col("xs"), i + 1) * F.element_at(F.col("ys"), i),
    )
    return back.select(
        F.col("layer").cast("long").alias("poly_id"),
        n.cast("long").alias("n_verts"),
        R(F.abs(cross) * 0.5, 6).alias("outer_area"),
    )


# ---------------------------------------------------------------------------
# §8.38 PMTiles v3 container (public protomaps/PMTiles spec; reference
# driver ogr/ogrsf_frmts/pmtiles/) — cumulative-Hilbert tile ids, varint
# directories, content-deduped clustered tile data; distributed ranged-read
# scan (one pread per entry, the access pattern the format exists for).
# ---------------------------------------------------------------------------

def _pmt_golden_rows() -> list[tuple]:
    """Local numpy mirror of the z0+z1 pyramid with PMTiles tile ids."""
    import hashlib

    from gdal_spark.functions import png as PNGF
    from gdal_spark.sources import pmtiles as PMT

    ts = _RB_TS
    rows = []
    for zdst in (0, 1):
        r = 1 << (_RB_ZSRC - zdst)
        w = ts * r
        for ty in range(1 << zdst):
            for tx in range(1 << zdst):
                yy, xx = np.mgrid[0:w, 0:w]
                src = TL.pixel_value(tx * w + xx, ty * w + yy, 1)
                img = PNGF.quantize_u8(
                    src.reshape(ts, r, ts, r).mean(axis=(1, 3)))
                png = PNGF.encode_png_gray8(img)
                rows.append((
                    zdst, tx, ty, PMT.zxy_to_tileid(zdst, tx, ty),
                    hashlib.md5(png).hexdigest(), len(png),
                ))
    return rows


def _sql_pmtiles() -> str:
    vals = ", ".join(
        f"({z}, {tx}, {ty}, {tid}, '{md5}', {ln})"
        for z, tx, ty, tid, md5, ln in _pmt_golden_rows()
    )
    return (
        "SELECT zoom, tx, ty, tile_id, png_md5, png_len FROM (VALUES "
        + vals + ") AS t(zoom, tx, ty, tile_id, png_md5, png_len)"
    )


@register("pmtiles_pyramid", _sql_pmtiles())
def q_pmtiles_pyramid(spark, sf_dir):
    """PMTiles v3 gate: the z0+z1 pyramid rendered and PNG-encoded
    distributed, written to one .pmtiles (gzip root directory,
    content-deduped clustered data section), read back via the
    one-pread-per-entry ranged scan.  The output carries each tile's
    cumulative-Hilbert tile_id, so an addressing bug (wrong curve
    rotation, wrong zoom base) mismatches the golden rows even when the
    bytes roundtrip."""
    import hashlib
    import tempfile

    import pandas as pd

    from gdal_spark.functions import png as PNGF
    from gdal_spark.sources import pmtiles as PMT

    rendered = []
    for zdst in (0, 1):
        base = TL.synthetic_raster(
            spark, zoom=_RB_ZSRC, bands=1, tile_size=_RB_TS,
            tx_range=(0, 7), ty_range=(0, 7),
        )
        out = TL.render_base_tiles(base, _RB_ZSRC, zdst, "average", _RB_TS)

        def enc(batches, _z=zdst):
            for pdf in batches:
                recs = []
                for tx, ty, data in zip(pdf["tx"], pdf["ty"], pdf["data"]):
                    img = PNGF.quantize_u8(
                        np.asarray(data, dtype=np.float64)
                        .reshape(_RB_TS, _RB_TS))
                    recs.append({
                        "zoom": _z, "tx": int(tx), "ty": int(ty),
                        "png": PNGF.encode_png_gray8(img),
                    })
                yield pd.DataFrame(
                    recs, columns=["zoom", "tx", "ty", "png"])

        rendered.append(out.mapInPandas(
            enc, "zoom long, tx long, ty long, png binary"))
    tiles = [
        (int(r["zoom"]), int(r["tx"]), int(r["ty"]), bytes(r["png"]))
        for r in rendered[0].unionAll(rendered[1]).collect()
    ]
    path = tempfile.mkdtemp(prefix="gdalspark_pmt_gate_") + "/pyr.pmtiles"
    PMT.write_pmtiles(tiles, path, tile_type=PMT.TILE_PNG)
    back = PMT.read_pmtiles(spark, path)

    def dig(batches):
        from gdal_spark.sources import pmtiles as _P

        for pdf in batches:
            yield pd.DataFrame({
                "zoom": pdf["zoom"], "tx": pdf["tx"], "ty": pdf["ty"],
                "tile_id": [
                    _P.zxy_to_tileid(int(z), int(x), int(y))
                    for z, x, y in zip(pdf["zoom"], pdf["tx"], pdf["ty"])
                ],
                "png_md5": [hashlib.md5(bytes(b)).hexdigest()
                            for b in pdf["tile_data"]],
                "png_len": [len(bytes(b)) for b in pdf["tile_data"]],
            })

    return back.mapInPandas(
        dig,
        "zoom long, tx long, ty long, tile_id long, png_md5 string,"
        " png_len long")


# ---------------------------------------------------------------------------
# §8.39 H3-style hierarchical hex cell index (north rule: "geotags are
# H3/S2-encoded"; spatial/hexgrid.py — micro-quantized axial binning,
# cross-engine exact).  Completes the geocell pair next to s2_cell_encode /
# s2_parent_rollup.
# ---------------------------------------------------------------------------

from gdal_spark.spatial import hexgrid as HX  # noqa: E402

_HEX_BASE = 2.0  # res-0 circumradius (degrees); res r -> base / 2^r


def _sql_hex_encode() -> str:
    sz = HX.res_size(_HEX_BASE, 3)
    q, r = HX.sql_hex_cells("lon", "lat", sz)
    cid = HX.sql_hex_cell_id(q, r, 3)
    return f"""WITH pts AS ({SQL_POINTS})
SELECT o_orderkey, {q} AS hq, {r} AS hr, {cid} AS cell_id
FROM pts WHERE o_orderkey % 3 = 0"""


@register("hex_cell_encode", _sql_hex_encode())
def q_hex_cell_encode(spark, sf_dir):
    """H3-style hex cell encode (res 3, aperture-4 ladder): every third
    order point binned to its pointy-top axial hex cell via the
    micro-quantized integer cube-rounding chain — map-only column math,
    bit-identical across engines by construction (the kNN path's float
    binning stays engine-internal; THIS is the public encoding)."""
    sz = HX.res_size(_HEX_BASE, 3)
    pts = order_points(spark, sf_dir).filter(F.col("o_orderkey") % 3 == 0)
    q, r = HX.hex_cells_quantized(F.col("lon"), F.col("lat"), sz)
    return pts.select(
        "o_orderkey", q.alias("hq"), r.alias("hr"),
        HX.hex_cell_id(q, r, 3).alias("cell_id"),
    )


def _sql_hex_rollup() -> str:
    szf = HX.res_size(_HEX_BASE, 2)
    szc = HX.res_size(_HEX_BASE, 0)
    qf, rf = HX.sql_hex_cells("lon", "lat", szf)
    qc, rc = HX.sql_hex_cells("lon", "lat", szc)
    fid = HX.sql_hex_cell_id(qf, rf, 2)
    cid = HX.sql_hex_cell_id(qc, rc, 0)
    return f"""WITH pts AS ({SQL_POINTS}),
enc AS (SELECT {cid} AS parent_id, {fid} AS child_id FROM pts)
SELECT parent_id, count(*)::bigint AS n_points,
       count(DISTINCT child_id)::bigint AS n_child_cells
FROM enc GROUP BY parent_id HAVING count(*) >= 5"""


@register("hex_parent_rollup", _sql_hex_rollup())
def q_hex_parent_rollup(spark, sf_dir):
    """H3-style parent rollup: points encoded at res 2 AND res 0 (the
    point-level parent semantics — hex apertures don't nest geometrically,
    so parent = re-encode, exactly as H3 point rollups do), aggregated per
    parent with distinct-child-cell counts.  One partial-agg shuffle on
    the parent key; HAVING bounds the output to populated cells."""
    pts = order_points(spark, sf_dir)
    qf, rf = HX.hex_cells_quantized(
        F.col("lon"), F.col("lat"), HX.res_size(_HEX_BASE, 2))
    qc, rc = HX.hex_cells_quantized(
        F.col("lon"), F.col("lat"), HX.res_size(_HEX_BASE, 0))
    enc = pts.select(
        HX.hex_cell_id(qc, rc, 0).alias("parent_id"),
        HX.hex_cell_id(qf, rf, 2).alias("child_id"),
    )
    return (
        enc.groupBy("parent_id")
        .agg(F.count(F.lit(1)).alias("n_points"),
             F.countDistinct("child_id").alias("n_child_cells"))
        .filter(F.col("n_points") >= 5)
    )


# ---------------------------------------------------------------------------
# §8.40 PNM (PGM P5 16-bit) + NOAA .gtx vertical-shift grid drivers
# (refs frmts/pnm/pnmdataset.cpp, frmts/gtx/gtxdataset.cpp).
# ---------------------------------------------------------------------------

def _sql_pnm() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i),
v AS (SELECT gx.i AS x, gy.i AS y,
             ((gx.i * gx.i) % 97 + (gy.i * 13) % 89) * 300 AS val
      FROM g gx CROSS JOIN g gy)
SELECT (y // 32)::bigint AS band,
       sum(val * (1 + (x * 5 + y * 3) % 17))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band"""


@register("pnm_roundtrip", _sql_pnm())
def q_pnm_roundtrip(spark, sf_dir):
    """PNM driver gate (P5 binary PGM, maxval 65535 — the 2-byte
    big-endian sample path): the DEM scaled ×300 past the 1-byte range,
    written as 8 per-block .pgm files, read back one task per file."""
    import tempfile

    from gdal_spark.sources import pnm as PNM

    d = tempfile.mkdtemp(prefix="gdalspark_pnm_gate_")
    cells = _dem_cells(spark, _GT_W).select(
        "gx", "gy", (F.col("val").cast("long") * 300).alias("val"))
    PNM.write_gray_pnms(cells, d, width=_GT_W, height=_GT_W,
                        block_rows=16, maxval=65535)
    back = PNM.read_gray_pnms(spark, d, block_rows=16)
    return back.groupBy((F.col("gy") / 32).cast("long").alias("band")).agg(
        F.sum(F.col("val")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


_GTX_N = 96


def _sql_gtx() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_GTX_N - 1})) AS i),
v AS (SELECT gr.i AS r, gc.i AS c,
             (gr.i * 13) % 89 + (gc.i * gc.i) % 97 - 40 AS shift
      FROM g gr CROSS JOIN g gc
      WHERE (gr.i * 7 + gc.i * 11) % 13 <> 0)
SELECT (r // 32)::bigint AS band, count(*)::bigint AS n,
       sum(shift * (1 + (c * 5 + r * 3) % 17))::bigint AS digest,
       {SR('sum(40.0 + r / 128.0) + sum(10.0 + c / 128.0)', 4)} AS georef_sum
FROM v GROUP BY band"""


@register("gtx_vshift_grid", _sql_gtx())
def q_gtx_vshift_grid(spark, sf_dir):
    """NOAA .gtx vertical-shift grid gate: a closed-form shift grid with
    punched -88.8888 nodata written as ONE bottom-up big-endian f32 grid
    (vertical datums are dimension-scale), read back one pread per
    row-block — nodata must vanish, and the per-sample lat/lon recovered
    from the header georef is pinned by the dyadic-exact georef_sum."""
    import tempfile

    from gdal_spark.sources import gtx as GTX

    rr, cc = np.mgrid[0:_GTX_N, 0:_GTX_N]
    arr = ((rr * 13) % 89 + (cc * cc) % 97 - 40).astype(np.float64)
    arr[(rr * 7 + cc * 11) % 13 == 0] = GTX.NODATA
    path = tempfile.mkdtemp(prefix="gdalspark_gtx_gate_") + "/v.gtx"
    GTX.write_gtx(arr, path, lat0=40.0, lon0=10.0,
                  dlat=1.0 / 128.0, dlon=1.0 / 128.0)
    back = GTX.read_gtx(spark, path, block_rows=24)
    return back.groupBy((F.col("row") / 32).cast("long").alias("band")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("shift").cast("long")
              * (1 + (F.col("col") * 5 + F.col("row") * 3) % 17))
        .alias("digest"),
        R(F.sum(F.col("lat")) + F.sum(F.col("lon")), 4).alias("georef_sum"),
    )


# ---------------------------------------------------------------------------
# §8.41 GeoTIFF LZW + horizontal predictor (TIFF 6.0 §13/§14; completes the
# compression menu next to DEFLATE — LZW is what most striped GeoTIFFs in
# the wild carry).
# ---------------------------------------------------------------------------

def _sql_geotiff_lzw() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i),
v AS (SELECT gx.i AS x, gy.i AS y,
             (gx.i * gx.i) % 97 + (gy.i * 13) % 89 AS val
      FROM g gx CROSS JOIN g gy)
SELECT (y // 32)::bigint AS band,
       sum(val * (1 + (x * 7 + y * 11) % 13))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band"""


@register("geotiff_lzw_roundtrip", _sql_geotiff_lzw())
def q_geotiff_lzw_roundtrip(spark, sf_dir):
    """GeoTIFF LZW gate: the DEM written as Int32 strips with
    Compression=5 (spec-derived TIFF-LZW: MSB-first packing, early
    code-width change, 4094 table reset) AND Predictor=2 horizontal
    differencing, read back one task per file — digest identical to the
    uncompressed/DEFLATE paths, proving the codec chain is lossless."""
    import tempfile

    d = tempfile.mkdtemp(prefix="gdalspark_gtlzw_gate_")
    cells = _dem_cells(spark, _GT_W)
    GT.write_cell_geotiffs(cells, d, width=_GT_W, height=_GT_W,
                           block_rows=16, dtype="int32",
                           compression="lzw", predictor=2)
    back = GT.read_geotiffs(spark, d)
    return back.groupBy((F.col("gy") / 32).cast("long").alias("band")).agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 7 + F.col("gy") * 11) % 13))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# §8.42 Corpus-curation capstone — the LLM-data-pipeline product path in ONE
# gate (the corpus-side sibling of flagship_capstone_storage): Gopher
# quality filter → exact near-identical dedup (md5 text, keep lowest
# doc_id) → per-language cap → per-language corpus stats.  Both engines
# run the IDENTICAL composition: the Spark side chains the registered
# operators; the oracle embeds text_gopher_rules' full SQL as a subquery.
# ---------------------------------------------------------------------------

_CAP_PER_LANG = 40


def _sql_corpus_capstone() -> str:
    return f"""WITH g AS ({_sql_gopher_rules()}),
kept AS (
  SELECT d.doc_id, d.text, d.lang, g.n_words
  FROM g JOIN documents d ON d.doc_id = g.doc_id
  WHERE g.keep_doc),
dedup AS (
  SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
capd AS (
  SELECT k.lang, k.n_words,
         row_number() OVER (PARTITION BY k.lang ORDER BY k.doc_id) AS rn
  FROM kept k JOIN dedup u ON u.doc_id = k.doc_id)
SELECT lang, count(*)::bigint AS n_docs,
       sum(n_words)::bigint AS total_words,
       max(n_words)::bigint AS max_words
FROM capd WHERE rn <= {_CAP_PER_LANG} GROUP BY lang"""


@register("corpus_curation_capstone", _sql_corpus_capstone())
def q_corpus_curation_capstone(spark, sf_dir):
    """End-to-end curation pipeline over the documents table: the Gopher
    keep decision (full metric set, reusing the registered operator),
    exact dedup on md5(text) keeping the lowest doc_id (one hash-groupBy
    — the 100 TB exact-dedup shape), a deterministic per-language cap
    (window rank on the language key), and per-language corpus stats.
    Every stage is the production operator, not a re-derivation; the
    oracle chains the same stages in SQL with text_gopher_rules' oracle
    embedded verbatim."""
    from pyspark.sql import Window

    g = QUERIES["text_gopher_rules"](spark, sf_dir)
    docs = _read(spark, sf_dir, "documents")
    kept = (
        g.filter(F.col("keep_doc"))
        .select("doc_id", "n_words")
        .join(docs.select("doc_id", "text", "lang"), "doc_id")
    )
    dedup = (
        kept.groupBy(F.md5(F.col("text").cast("binary")).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    capd = (
        kept.join(dedup, "doc_id")
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("lang").orderBy("doc_id")))
        .filter(F.col("rn") <= _CAP_PER_LANG)
    )
    return capd.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.max("n_words").alias("max_words"),
    )


# ---------------------------------------------------------------------------
# §8.43 ST_Collect + ST_AsText dialect gate (PostGIS/SQLite-dialect
# aggregate the reference exposes through OGRSQL/SQLite SQL; geometry
# collection semantics of OGRGeometryCollection::addGeometry).  Coordinates
# render as integer micro-degrees — the cross-engine text contract (double
# formatting differs between engines by design; the binary MULTIPOINT
# encoder is pinned separately in tests/test_geometry.py).
# ---------------------------------------------------------------------------

def _sql_st_collect() -> str:
    xm = "CAST(floor(lon * 1000000 + 0.5) AS BIGINT)"
    ym = "CAST(floor(lat * 1000000 + 0.5) AS BIGINT)"
    return f"""WITH pts AS ({SQL_POINTS}),
sub AS (SELECT o_orderkey,
               CAST(floor(lon / 45.0) AS BIGINT) AS cx,
               CAST(floor(lat / 45.0) AS BIGINT) AS cy,
               {xm} AS xm, {ym} AS ym
        FROM pts WHERE o_orderkey % 50 = 0)
SELECT cx, cy, count(*)::bigint AS n,
       'MULTIPOINT(' || string_agg(xm || ' ' || ym, ', '
                                   ORDER BY o_orderkey) || ')' AS wkt
FROM sub GROUP BY cx, cy"""


@register("st_collect_astext", _sql_st_collect())
def q_st_collect_astext(spark, sf_dir):
    """ST_AsText(ST_Collect(pt ORDER BY key)) per 45° cell: one
    collect_list aggregate (map-side partial, no separate sort shuffle —
    the within-group order comes from sort_array on the leading struct
    key), rendered as MULTIPOINT text with micro-degree integer
    coordinates so both engines produce identical strings."""
    pts = order_points(spark, sf_dir).filter(F.col("o_orderkey") % 50 == 0)
    sub = pts.select(
        "o_orderkey",
        F.floor(F.col("lon") / 45.0).cast("long").alias("cx"),
        F.floor(F.col("lat") / 45.0).cast("long").alias("cy"),
        F.floor(F.col("lon") * 1e6 + 0.5).cast("long").alias("xm"),
        F.floor(F.col("lat") * 1e6 + 0.5).cast("long").alias("ym"),
    )
    coll = sub.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).alias("n"),
        F.sort_array(
            F.collect_list(F.struct("o_orderkey", "xm", "ym"))
        ).alias("_pts"),
    )
    body = F.array_join(
        F.transform(
            F.col("_pts"),
            lambda p: F.concat_ws(" ", p["xm"].cast("string"),
                                  p["ym"].cast("string")),
        ),
        ", ",
    )
    return coll.select(
        "cx", "cy", "n",
        F.concat(F.lit("MULTIPOINT("), body, F.lit(")")).alias("wkt"),
    )


# ---------------------------------------------------------------------------
# §8.44 BMP raster driver (ref frmts/bmp/bmpdataset.cpp — v3
# BITMAPINFOHEADER, BI_RGB, bottom-up, 4-byte row padding).  Width 125 is
# deliberately odd so every 24-bit row (375 bytes) exercises the pad path.
# ---------------------------------------------------------------------------

_BMP_W = 125


def _sql_bmp() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i),
v AS (SELECT gx.i AS x, gy.i AS y,
             (gx.i * 7 + gy.i * 3) % 251 AS r,
             (gx.i * gx.i) % 97 + (gy.i * 13) % 89 AS gr,
             (gx.i * 5 + gy.i * 11) % 239 AS b
      FROM g gx CROSS JOIN g gy WHERE gx.i < {_BMP_W})
SELECT (y // 32)::bigint AS band, count(*)::bigint AS n,
       sum(r * (1 + x % 7) + gr * 2 + b * (1 + y % 5))::bigint AS digest
FROM v GROUP BY band"""


@register("bmp_roundtrip", _sql_bmp())
def q_bmp_roundtrip(spark, sf_dir):
    """BMP driver gate: a 125×128 closed-form RGB raster written as 8
    per-block 24-bit .bmp files (odd width → padded rows), read back one
    task per file, digested per 32-row band."""
    import tempfile

    from gdal_spark.sources import bmp as BMP

    d = tempfile.mkdtemp(prefix="gdalspark_bmp_gate_")
    cells = _dem_cells(spark, _GT_W).filter(F.col("gx") < _BMP_W).select(
        "gx", "gy",
        ((F.col("gx") * 7 + F.col("gy") * 3) % 251).alias("r"),
        F.col("val").cast("long").alias("g"),
        ((F.col("gx") * 5 + F.col("gy") * 11) % 239).alias("b"),
    )
    BMP.write_rgb_bmps(cells, d, width=_BMP_W, height=_GT_W, block_rows=16)
    back = BMP.read_rgb_bmps(spark, d, block_rows=16)
    return back.groupBy((F.col("gy") / 32).cast("long").alias("band")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("r") * (1 + F.col("gx") % 7) + F.col("g") * 2
              + F.col("b") * (1 + F.col("gy") % 5)).alias("digest"),
    )


# ---------------------------------------------------------------------------
# §8.45 GIF raster driver (ref frmts/gif/gifdataset.cpp wrapping giflib;
# from-scratch LSB-first variable-width LZW, decode anchored byte-for-byte
# on the public spec's sample stream in tests/test_new_formats.py).
# ---------------------------------------------------------------------------

def _sql_gif() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_GT_W - 1})) AS i),
v AS (SELECT gx.i AS x, gy.i AS y,
             (gx.i * gx.i) % 97 + (gy.i * 13) % 89 AS idx
      FROM g gx CROSS JOIN g gy)
SELECT (y // 32)::bigint AS band, count(*)::bigint AS n,
       sum(idx * (1 + x % 7) + (idx * 7) % 256
           + ((idx * 59) % 256) * 2 + ((idx * 83) % 256) * 3)::bigint
       AS digest
FROM v GROUP BY band"""


@register("gif_roundtrip", _sql_gif())
def q_gif_roundtrip(spark, sf_dir):
    """GIF driver gate: the 128×128 closed-form DEM as palette indices
    (256-color table → 8-bit min code size, the width-growth LZW path),
    8 per-block .gif files, read back one task per file with the indices
    expanded through the color table; digest mixes raw indices and all
    three palette channels so both the LZW stream and the table must
    survive the roundtrip."""
    import tempfile

    import numpy as np

    from gdal_spark.sources import gif as GIF

    d = tempfile.mkdtemp(prefix="gdalspark_gif_gate_")
    i = np.arange(256)
    pal = np.stack([(i * 7) % 256, (i * 59) % 256, (i * 83) % 256],
                   axis=1).astype(np.uint8)
    cells = _dem_cells(spark, _GT_W).select(
        "gx", "gy", F.col("val").cast("long").alias("idx"))
    GIF.write_indexed_gifs(cells, d, width=_GT_W, height=_GT_W,
                           block_rows=16, palette=pal)
    back = GIF.read_indexed_gifs(spark, d, block_rows=16)
    return back.groupBy((F.col("gy") / 32).cast("long").alias("band")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("idx") * (1 + F.col("gx") % 7) + F.col("r")
              + F.col("g") * 2 + F.col("b") * 3).alias("digest"),
    )


# ---------------------------------------------------------------------------
# §8.46 TopoJSON vector driver (public TopoJSON spec; ref reads it via
# ogr/ogrsf_frmts/geojson/ogrtopojsonreader.cpp — read-only there too).
# Shared-arc dedup is the format's point: the 16-cell rows below store 49
# arcs instead of 64 naive edges, adjacent cells referencing the shared
# wall as ~i.
# ---------------------------------------------------------------------------

_TJ_NX, _TJ_NY, _TJ_Q = 16, 8, 250


def _sql_topojson() -> str:
    q = _TJ_Q
    return f"""WITH gx AS (SELECT unnest(generate_series(0, {_TJ_NX - 1})) AS i),
gy AS (SELECT unnest(generate_series(0, {_TJ_NY - 1})) AS j)
SELECT (j * {_TJ_NX} + i)::bigint AS fid,
       ((i * i) % 31 + (j * 7) % 13)::bigint AS h,
       5::bigint AS n_pts,
       {2 * q * q}::bigint AS area2q,
       (10 * (i * {q}) + 5 * ((i + 1) * {q})
        + 11 * (j * {q}) + 9 * ((j + 1) * {q}))::bigint AS digest
FROM gx CROSS JOIN gy"""


@register("topojson_roundtrip", _sql_topojson())
def q_topojson_roundtrip(spark, sf_dir):
    """TopoJSON driver gate: a 16×8 grid of CCW quad cells written as one
    Topology document per row-block (block-local shared-arc dedup,
    quantized transform scale=1e-3), read back one task per document;
    per-feature the stitched exterior ring is re-quantized in JVM HOFs —
    integer shoelace doubled area, weighted vertex digest, and the
    property roundtrip all come off the decoded arcs."""
    import tempfile

    from gdal_spark.sources import topojson as TJ

    d = tempfile.mkdtemp(prefix="gdalspark_tj_gate_")
    q = F.lit(_TJ_Q)
    cells = spark.range(_TJ_NX * _TJ_NY).select(
        (F.col("id") % _TJ_NX).alias("i"),
        (F.col("id") / _TJ_NX).cast("long").alias("j"),
    ).select(
        F.col("j").alias("blk"),
        (F.col("j") * _TJ_NX + F.col("i")).alias("fid"),
        F.to_json(F.struct(
            ((F.col("i") * F.col("i")) % 31 + (F.col("j") * 7) % 13)
            .alias("h"))).alias("props_json"),
        F.array(F.col("i") * q, (F.col("i") + 1) * q, (F.col("i") + 1) * q,
                F.col("i") * q, F.col("i") * q).alias("qx"),
        F.array(F.col("j") * q, F.col("j") * q, (F.col("j") + 1) * q,
                (F.col("j") + 1) * q, F.col("j") * q).alias("qy"),
    )
    TJ.write_polygon_topologies(
        cells, d, "cells", scale=(1e-3, 1e-3), translate=(-2.0, -1.0))
    back = TJ.read_polygon_topologies(spark, d, "cells")
    # re-quantize: q = (pos - translate) / scale, micro-rounded to ints
    xq = F.transform(
        F.col("ring"), lambda p: F.floor((p["x"] + 2.0) * 1000 + 0.5))
    yq = F.transform(
        F.col("ring"), lambda p: F.floor((p["y"] + 1.0) * 1000 + 0.5))
    ks = F.sequence(F.lit(0), F.size("ring") - 2)
    return back.select(
        "fid",
        F.get_json_object("props_json", "$.h").cast("long").alias("h"),
        F.size("ring").cast("long").alias("n_pts"),
        F.aggregate(
            ks, F.lit(0).cast("long"),
            lambda acc, k: acc
            + F.element_at(xq, k + 1) * F.element_at(yq, k + 2)
            - F.element_at(xq, k + 2) * F.element_at(yq, k + 1),
        ).alias("area2q"),
        F.aggregate(
            F.sequence(F.lit(0), F.size("ring") - 1), F.lit(0).cast("long"),
            lambda acc, k: acc + F.element_at(xq, k + 1) * (k + 1)
            + F.element_at(yq, k + 1) * (k + 2),
        ).alias("digest"),
    )


# ---------------------------------------------------------------------------
# §8.47 Kneser–Ney bigram document perplexity (CCNet's LM-quality signal,
# Wenzek et al. 2020 — KenLM scoring re-expressed with vocabulary-bounded
# bigram tables; ref has no LM, this is LLM-pipeline depth).  Train on
# doc_id % 3 == 0, score the rest; D = 0.75, +0.5/(V+1) UNK floor, ln(P)
# micro-quantized per bigram before the order-free per-doc integer sum.
# ---------------------------------------------------------------------------

def _sql_kn_ppl() -> str:
    pcont = ("(coalesce(nw, 0) + 0.5::double)"
             " / (nb + 0.5::double * (vsize + 1))")
    seen = ("greatest(coalesce(cvw, 0) - 0.75::double, 0.0::double) / cv"
            f" + 0.75::double * n1v / cv * ({pcont})")
    return f"""WITH d2 AS (
  SELECT doc_id, string_split_regex(trim(text), ' +') AS l FROM documents),
tr AS (SELECT l FROM d2 WHERE doc_id % 3 = 0 AND len(l) >= 2),
te AS (SELECT doc_id, l FROM d2 WHERE doc_id % 3 <> 0 AND len(l) >= 2),
trbg AS (SELECT unnest([{{'v': l[k], 'w': l[k + 1]}}
                        FOR k IN range(1, len(l))]) AS p FROM tr),
bg AS (SELECT p.v AS v, p.w AS w, count(*)::bigint AS cvw
       FROM trbg GROUP BY 1, 2),
ctx AS (SELECT v, sum(cvw)::bigint AS cv, count(*)::bigint AS n1v
        FROM bg GROUP BY v),
cont AS (SELECT w, count(*)::bigint AS nw FROM bg GROUP BY w),
tot AS (SELECT (SELECT count(*) FROM bg)::bigint AS nb,
               (SELECT count(DISTINCT t) FROM (
                  SELECT unnest(string_split_regex(trim(text), ' +')) AS t
                  FROM documents WHERE doc_id % 3 = 0))::bigint AS vsize),
tebg AS (SELECT doc_id, unnest([{{'v': l[k], 'w': l[k + 1]}}
                                FOR k IN range(1, len(l))]) AS p FROM te),
j AS (SELECT t.doc_id, b.cvw, c.cv, c.n1v, n.nw, tot.nb, tot.vsize
      FROM tebg t
      LEFT JOIN bg b ON b.v = t.p.v AND b.w = t.p.w
      LEFT JOIN ctx c ON c.v = t.p.v
      LEFT JOIN cont n ON n.w = t.p.w
      CROSS JOIN tot),
s AS (SELECT doc_id,
             floor(ln(CASE WHEN cv IS NOT NULL THEN {seen}
                           ELSE {pcont} END) * 1e6)::bigint AS lm
      FROM j),
agg AS (SELECT doc_id, count(*)::bigint AS n_bigrams,
               sum(lm)::bigint AS sum_logp_micro
        FROM s GROUP BY doc_id)
SELECT doc_id, n_bigrams, sum_logp_micro,
       {SR('exp(-(sum_logp_micro::double / 1e6 / n_bigrams))', 6)} AS ppl
FROM agg"""


@register("text_kn_perplexity", _sql_kn_ppl())
def q_text_kn_perplexity(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    out = T.kn_bigram_perplexity(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0))
    return out.select("doc_id", "n_bigrams", "sum_logp_micro",
                      R(F.col("ppl"), 6).alias("ppl"))


# ---------------------------------------------------------------------------
# §8.48 SQ8 scalar-quantized ANN (FAISS ScalarQuantizer QT_8bit analog):
# per-dim [min,max] trained in one bounded aggregate, byte-per-dim codes,
# symmetric reconstructed-L2 top-k.  Completes the quantization menu
# (LSH → IVF → PQ → IVFPQ → SQ8).
# ---------------------------------------------------------------------------

def _sql_sq8() -> str:
    terms = ("[(qs.qq[d] - c.q[d]) * (qs.qq[d] - c.q[d]) * sc.s2[d] "
             "FOR d IN range(1, 65)]")
    return f"""WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dd AS (SELECT unnest(generate_series(1, 64)) AS d),
mm AS (SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
       FROM e CROSS JOIN dd GROUP BY d),
pl AS (SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx
       FROM mm),
q8 AS (SELECT vec_id,
              [floor((v[d] - pl.mn[d]) / (pl.mx[d] - pl.mn[d])
                     * 255.0::double + 0.5::double)::bigint
               FOR d IN range(1, 65)] AS q
       FROM e CROSS JOIN pl),
sc AS (SELECT [((pl.mx[d] - pl.mn[d]) / 255.0::double)
               * ((pl.mx[d] - pl.mn[d]) / 255.0::double)
               FOR d IN range(1, 65)] AS s2 FROM pl),
qs AS (SELECT vec_id AS q_id, q AS qq FROM q8 WHERE {ANN_PRED}),
pairs AS (
  SELECT qs.q_id, c.vec_id,
         {SR(f'list_reduce(list_prepend(0.0::double, {terms}), (a, b) -> a + b)', 6)}
           AS dist,
         list_reduce(list_prepend(0::bigint, c.q), (a, b) -> a + b) AS qsum
  FROM qs CROSS JOIN q8 c CROSS JOIN sc WHERE c.vec_id <> qs.q_id),
r AS (SELECT q_id, vec_id, dist, qsum,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY dist, vec_id) AS rk
      FROM pairs)
SELECT q_id, rk::bigint AS rank, vec_id, dist, qsum FROM r WHERE rk <= 5"""


@register("embed_ann_sq8", _sql_sq8())
def q_embed_ann_sq8(spark, sf_dir):
    """SQ8 ANN gate: train per-dim [min,max] on all 500 vectors, encode
    to 64 bytes each, top-5 per query by symmetric reconstructed-L2 —
    queries broadcast against the code-only scan."""
    emb = _read(spark, sf_dir, "embeddings")
    return SIM.sq8_topk(emb, ANN_PRED.replace(" = ", " == "))


# ===========================================================================
# §8.49 MapInfo MIF/MID driver (ogr/ogrsf_frmts/mitab/mitab_miffile.cpp):
# the text interchange pair — .mif header + geometry stream, .mid
# positional attribute rows.
# ===========================================================================


@register("mif_roundtrip", _FMT_POINTS_ORACLE)
def q_mif_roundtrip(spark, sf_dir):
    """MIF/MID driver gate: the point layer written as 8 .mif/.mid pairs
    (shortest-roundtrip decimal coordinates, delimited integer
    attributes), read back one task per pair with the spec's positional
    .mif↔.mid feature pairing."""
    import tempfile

    from gdal_spark.sources import mif as MIF

    d = tempfile.mkdtemp(prefix="gdalspark_mif_gate_")
    pts = _fmt_points(spark, sf_dir)
    MIF.write_point_mifs(pts, d, ["o_orderkey", "cents"])
    back = MIF.read_point_mifs(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


# ---------------------------------------------------------------------------
# §8.50 Temperature-based mixture allocation (the multilingual/source
# sampling rule of Lample & Conneau 2019 §3.1 / LLaMA's data mix:
# p_s ∝ n_s^α with α = 0.5, i.e. sqrt — correctly-rounded on both
# engines), apportioned to an integer token budget by largest remainder
# (Hamilton).  Complements corpus_mix_upsample (explicit weights) and
# corpus_language_cap (hard caps): here the weights COME FROM the corpus.
# ---------------------------------------------------------------------------

_TMIX_BUDGET = 1_000_000


def _sql_temperature_mix() -> str:
    b = f"{float(_TMIX_BUDGET)!r}::double"
    return f"""WITH nt AS (
  SELECT source, sum(len(string_split_regex(trim(text), ' +')))::bigint
           AS n_tokens
  FROM documents GROUP BY source),
ws AS (SELECT source, n_tokens, sqrt(n_tokens::double) AS w FROM nt),
tot AS (SELECT list_reduce(list_prepend(0.0::double,
                                        list(w ORDER BY source)),
                           (a, b) -> a + b) AS wsum FROM ws),
raw AS (SELECT source, n_tokens,
               {b} * w / tot.wsum AS r
        FROM ws CROSS JOIN tot),
fl AS (SELECT source, n_tokens, floor(r)::bigint AS alloc0,
              floor((r - floor(r)) * 1e6 + 0.5::double)::bigint AS rem_m
       FROM raw),
rk AS (SELECT *, row_number() OVER (ORDER BY rem_m DESC, source) AS rk,
              (SELECT {_TMIX_BUDGET} - sum(alloc0) FROM fl) AS residue
       FROM fl)
SELECT source, n_tokens,
       (alloc0 + CASE WHEN rk <= residue THEN 1 ELSE 0 END)::bigint
         AS alloc_tokens,
       {SR('(alloc0 + CASE WHEN rk <= residue THEN 1 ELSE 0 END)'
           '::double / n_tokens', 6)} AS eff_epochs
FROM rk"""


@register("corpus_temperature_mix", _sql_temperature_mix())
def q_corpus_temperature_mix(spark, sf_dir):
    """Temperature mixing gate: per-source token counts → sqrt weights →
    largest-remainder integer apportionment of a 1M-token budget.  All
    tables past the one corpus aggregate are source-bounded; the weight
    fold runs in source order on both engines so the double sum is
    bit-identical."""
    docs = _read(spark, sf_dir, "documents")
    nt = docs.select(
        "source",
        F.size(F.split(F.trim("text"), " +")).alias("ntok"),
    ).groupBy("source").agg(F.sum("ntok").cast("long").alias("n_tokens"))
    ws = nt.select(
        "source", "n_tokens",
        F.sqrt(F.col("n_tokens").cast("double")).alias("w"))
    tot = ws.agg(F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("source", "w"))),
            lambda s: s["w"]),
        F.lit(0.0), lambda a, v: a + v).alias("wsum"))
    raw = ws.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens",
        (F.lit(float(_TMIX_BUDGET)) * F.col("w") / F.col("wsum")).alias("r"))
    fl = raw.select(
        "source", "n_tokens",
        F.floor("r").cast("long").alias("alloc0"),
        F.floor((F.col("r") - F.floor("r")) * 1e6 + 0.5).cast("long")
        .alias("rem_m"))
    from pyspark.sql import Window

    res = fl.agg((F.lit(_TMIX_BUDGET) - F.sum("alloc0")).alias("residue"))
    wspec = Window.orderBy(F.desc("rem_m"), F.asc("source"))
    rk = fl.crossJoin(F.broadcast(res)).withColumn(
        "rk", F.row_number().over(wspec))
    alloc = F.col("alloc0") + F.when(
        F.col("rk") <= F.col("residue"), 1).otherwise(0)
    return rk.select(
        "source", "n_tokens", alloc.cast("long").alias("alloc_tokens"),
        R(alloc.cast("double") / F.col("n_tokens"), 6).alias("eff_epochs"))


# ===========================================================================
# §8.51 PGDump driver (ogr/ogrsf_frmts/pgdump/ — write-only in the
# reference too; the COPY parser here closes the roundtrip): hex-WKB
# geometry in tab-delimited COPY rows.
# ===========================================================================


@register("pgdump_roundtrip", _FMT_POINTS_ORACLE)
def q_pgdump_roundtrip(spark, sf_dir):
    """PGDump driver gate: the point layer written as 8 PostGIS dump
    scripts (CREATE TABLE + AddGeometryColumn + COPY block, uppercase
    hex little-endian WKB), read back one task per dump — coordinates
    ride the 8-byte IEEE WKB payload bit-exactly."""
    import tempfile

    from gdal_spark.sources import pgdump as PGD

    d = tempfile.mkdtemp(prefix="gdalspark_pgdump_gate_")
    pts = _fmt_points(spark, sf_dir)
    PGD.write_point_pgdumps(pts, d, "points", ["o_orderkey", "cents"])
    back = PGD.read_point_pgdumps(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


# ===========================================================================
# §8.52 OSM XML driver (ogr/ogrsf_frmts/osm/ — the .osm planet-dump node
# layer; tags carry the attribute payload).
# ===========================================================================


@register("osm_nodes_roundtrip", _FMT_POINTS_ORACLE)
def q_osm_nodes_roundtrip(spark, sf_dir):
    """OSM XML driver gate: the point layer written as 8 .osm documents
    (<node id lat lon> + <tag k v> payload, shortest-roundtrip decimal
    coordinates), read back one task per document."""
    import tempfile

    from gdal_spark.sources import osmxml as OSM

    d = tempfile.mkdtemp(prefix="gdalspark_osm_gate_")
    pts = _fmt_points(spark, sf_dir)
    OSM.write_point_osm(pts, d, "o_orderkey", ["cents"])
    back = OSM.read_point_osm(spark, d, "o_orderkey", ["cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("lon"), 6).alias("lon"), R(F.col("lat"), 6).alias("lat"),
    )


# ===========================================================================
# §8.53 ESRI JSON + GeoRSS drivers (ogr/ogrsf_frmts/geojson/
# ogresrijsonreader.cpp; ogr/ogrsf_frmts/georss/ogrgeorsslayer.cpp).
# ===========================================================================


@register("esrijson_roundtrip", _FMT_POINTS_ORACLE)
def q_esrijson_roundtrip(spark, sf_dir):
    """ESRI JSON driver gate: the point layer as 8 ArcGIS REST
    FeatureSet documents — features rendered by JVM to_json on write,
    typed from_json + explode on read; doubles ride Jackson
    shortest-roundtrip text bit-exactly, zero Python in the feature
    path."""
    import tempfile

    from gdal_spark.sources import esrijson as EJ

    d = tempfile.mkdtemp(prefix="gdalspark_esrijson_gate_")
    pts = _fmt_points(spark, sf_dir)
    EJ.write_point_featuresets(pts, d, ["o_orderkey", "cents"])
    back = EJ.read_point_featuresets(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


@register("georss_roundtrip", _FMT_POINTS_ORACLE)
def q_georss_roundtrip(spark, sf_dir):
    """GeoRSS driver gate: the point layer as 8 RSS 2.0 documents with
    GeoRSS-Simple points (LAT-FIRST coordinate order, the spec's gotcha)
    and attribute child elements, read back one task per document."""
    import tempfile

    from gdal_spark.sources import georss as GR

    d = tempfile.mkdtemp(prefix="gdalspark_georss_gate_")
    pts = _fmt_points(spark, sf_dir)
    GR.write_point_georss(pts, d, ["o_orderkey", "cents"])
    back = GR.read_point_georss(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("lon"), 6).alias("lon"), R(F.col("lat"), 6).alias("lat"),
    )


# ---------------------------------------------------------------------------
# §8.54 CCNet head/middle/tail perplexity buckets (Wenzek et al. 2020
# §4.3: corpus split into three LM-perplexity tertiles; "head" is the
# training-preferred slice).  Composes the KN scorer with ntile(3) over a
# total order (avg log-prob desc, doc_id) — both engines sort the exact
# same doubles, so the tertile boundaries agree bit-for-bit.
# ---------------------------------------------------------------------------

def _sql_ccnet_buckets() -> str:
    return f"""WITH base AS ({_sql_kn_ppl()}),
bk AS (SELECT *, ntile(3) OVER (
         ORDER BY sum_logp_micro::double / n_bigrams DESC, doc_id) AS bucket
       FROM base)
SELECT bucket::bigint AS bucket, count(*)::bigint AS n_docs,
       sum(n_bigrams)::bigint AS sum_bigrams,
       min(ppl) AS min_ppl, max(ppl) AS max_ppl
FROM bk GROUP BY bucket"""


@register("corpus_ccnet_buckets", _sql_ccnet_buckets())
def q_corpus_ccnet_buckets(spark, sf_dir):
    """CCNet bucket gate: KN-scored documents cut into perplexity
    tertiles.  The global ntile window is corpus-sized here but
    bucket-boundary assignment at 100 TB would ride the engine's
    range-partitioned distributed rank (curve_sort) — documented
    trade-off, the gate pins the semantics."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    base = T.kn_bigram_perplexity(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0))
    w = Window.orderBy(
        (F.col("sum_logp_micro").cast("double") / F.col("n_bigrams")).desc(),
        F.col("doc_id"))
    bk = base.select(
        "n_bigrams", R(F.col("ppl"), 6).alias("ppl"),
        F.ntile(3).over(w).cast("long").alias("bucket"))
    return bk.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").alias("sum_bigrams"),
        F.min("ppl").alias("min_ppl"), F.max("ppl").alias("max_ppl"))


def _sql_vicar() -> str:
    return f"""WITH b AS (SELECT unnest(generate_series(0, 1)) AS band),
g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT b.band, gy.i AS y, gx.i AS x,
             (gx.i * 11) % 101 + (gy.i * 7) % 83 - 40 + b.band * 9 AS val
      FROM b CROSS JOIN g gy CROSS JOIN g gx
      WHERE (gx.i * 5 + gy.i * 3) % 11 <> 0)
SELECT band, sum(val * (1 + (x * 3 + y * 7) % 19))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band"""


@register("vicar_roundtrip", _sql_vicar())
def q_vicar_roundtrip(spark, sf_dir):
    """VICAR driver gate (frmts/pds/vicardataset.cpp; public NASA/JPL
    VICAR spec): a 2-band HALF (int16) image through the format's
    self-sizing LBLSIZE label with a 4-byte NBB binary prefix on EVERY
    record — the engine's only per-record-prefix layout, so the gate
    pins the strided prefix-skip on read and the prefix-preserving
    pwrite on write.  Punched holes carry the 0 fill; the gate restores
    the oracle's domain by re-applying the hole predicate."""
    import tempfile

    from gdal_spark.sources import vicar as VIC

    path = tempfile.mkdtemp(prefix="gdalspark_vicar_gate_") + "/img.vic"
    w = _ENVI_W
    cells = spark.range(2 * w * w).select(
        (F.col("id") / (w * w)).cast("long").alias("band"),
        ((F.col("id") % (w * w)) / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 11) % 101 + (F.col("gy") * 7) % 83 - 40
         + F.col("band") * 9).cast("double"),
    ).filter((F.col("gx") * 5 + F.col("gy") * 3) % 11 != 0)
    VIC.write_vicar(cells, path, w, w, 2, dtype="i2", nbb=4, block_rows=32)
    back = VIC.read_vicar(spark, path, block_rows=32)
    back = back.filter((F.col("gx") * 5 + F.col("gy") * 3) % 11 != 0)
    return back.groupBy("band").agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 3 + F.col("gy") * 7) % 19))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_pds() -> str:
    return f"""WITH b AS (SELECT unnest(generate_series(0, 1)) AS band),
g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT b.band, gy.i AS y, gx.i AS x,
             (gx.i * 13) % 97 + (gy.i * 17) % 89 - 50 + b.band * 6 AS val
      FROM b CROSS JOIN g gy CROSS JOIN g gx
      WHERE (gx.i + gy.i * 5) % 7 <> 0)
SELECT band, sum(val * (1 + (x * 7 + y * 5) % 23))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band"""


@register("pds_roundtrip", _sql_pds())
def q_pds_roundtrip(spark, sf_dir):
    """PDS3 driver gate (frmts/pds/pdsdataset.cpp; public PDS3 Standards
    Reference): a 2-band MSB_INTEGER image through the format's ODL
    label — the data offset is LABEL_RECORDS x RECORD_BYTES resolved
    from the 1-based ^IMAGE record pointer, so the gate pins the
    label-driven pointer arithmetic in the classic big-endian flavor.
    Punched holes carry the 0 fill; the gate restores the oracle's
    domain by re-applying the hole predicate."""
    import tempfile

    from gdal_spark.sources import pds as PDS

    path = tempfile.mkdtemp(prefix="gdalspark_pds_gate_") + "/img.lbl"
    w = _ENVI_W
    cells = spark.range(2 * w * w).select(
        (F.col("id") / (w * w)).cast("long").alias("band"),
        ((F.col("id") % (w * w)) / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 13) % 97 + (F.col("gy") * 17) % 89 - 50
         + F.col("band") * 6).cast("double"),
    ).filter((F.col("gx") + F.col("gy") * 5) % 7 != 0)
    PDS.write_pds(cells, path, w, w, 2, dtype="i2", block_rows=32)
    back = PDS.read_pds(spark, path, block_rows=32)
    back = back.filter((F.col("gx") + F.col("gy") * 5) % 7 != 0)
    return back.groupBy("band").agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 7 + F.col("gy") * 5) % 23))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_ers() -> str:
    return f"""WITH b AS (SELECT unnest(generate_series(0, 1)) AS band),
g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT b.band, gy.i AS y, gx.i AS x,
             (gx.i * 7) % 89 + (gy.i * 29) % 97 - 44 + b.band * 8 AS val
      FROM b CROSS JOIN g gy CROSS JOIN g gx
      WHERE (gx.i + gy.i * 3) % 5 <> 0)
SELECT band, sum(val * (1 + (x * 9 + y * 11) % 21))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band"""


@register("ers_roundtrip", _sql_ers())
def q_ers_roundtrip(spark, sf_dir):
    """ERS driver gate (frmts/ers/ersdataset.cpp; public ERMapper
    dataset-header format): a 2-band Signed16BitInteger image through
    the format's nested Begin/End block header with ByteOrder=MSBFirst
    — the engine's only BIG-endian BIL payload, complementing EHdr's
    little-endian BIL — plus a nonzero HeaderOffset to pin the skip.
    Punched holes carry the 0 fill; the gate restores the oracle's
    domain by re-applying the hole predicate."""
    import tempfile

    from gdal_spark.sources import ers as ERS

    path = tempfile.mkdtemp(prefix="gdalspark_ers_gate_") + "/img.ers"
    w = _ENVI_W
    cells = spark.range(2 * w * w).select(
        (F.col("id") / (w * w)).cast("long").alias("band"),
        ((F.col("id") % (w * w)) / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 7) % 89 + (F.col("gy") * 29) % 97 - 44
         + F.col("band") * 8).cast("double"),
    ).filter((F.col("gx") + F.col("gy") * 3) % 5 != 0)
    ERS.write_ers(cells, path, w, w, 2, dtype="i2",
                  byteorder="MSBFirst", header_offset=128, block_rows=32)
    back = ERS.read_ers(spark, path, block_rows=32)
    back = back.filter((F.col("gx") + F.col("gy") * 3) % 5 != 0)
    return back.groupBy("band").agg(
        F.sum(F.col("val").cast("long")
              * (1 + (F.col("gx") * 9 + F.col("gy") * 11) % 21))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_idrisi() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 19) % 103 + (gy.i * 23) % 91) * 0.25 + 1.0 AS val
      FROM g gy CROSS JOIN g gx
      WHERE (gx.i * 3 + gy.i) % 9 <> 0)
SELECT (y // 24)::bigint AS row_band,
       sum(val * (1 + (x * 5 + y * 7) % 13)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY row_band"""


@register("idrisi_roundtrip", _sql_idrisi())
def q_idrisi_roundtrip(spark, sf_dir):
    """Idrisi RST driver gate (frmts/idrisi/IdrisiDataset.cpp; public
    TerrSet format): a ``real`` (float32) grid through the .rdc
    fixed-12-char-key documentation file with a declared ``flag value``
    — punched holes carry the flag in the .rst and the READ drops them
    (the format's nodata contract), so the output domain matches the
    oracle with no predicate re-application."""
    import tempfile

    from gdal_spark.sources import idrisi as IDR

    path = tempfile.mkdtemp(prefix="gdalspark_idrisi_gate_") + "/img.rdc"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        (((F.col("gx") * 19) % 103 + (F.col("gy") * 23) % 91)
         .cast("double") * 0.25 + 1.0),
    ).filter((F.col("gx") * 3 + F.col("gy")) % 9 != 0)
    IDR.write_idrisi(cells, path, w, w, dtype="f4", flag=-999.0,
                     block_rows=32)
    back = IDR.read_idrisi(spark, path, block_rows=32)
    return back.groupBy(
        (F.col("gy") / 24).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 7) % 13))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_surfer_gsbg() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 19) % 103 + (gy.i * 23) % 91) * 0.25 - 8.0 AS val
      FROM g gy CROSS JOIN g gx
      WHERE (gx.i * 5 + gy.i * 3) % 11 <> 0)
SELECT (y // 16)::bigint AS row_band,
       sum(val * (1 + (x * 7 + y * 3) % 17)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY row_band"""


@register("surfer_gsbg_roundtrip", _sql_surfer_gsbg())
def q_surfer_gsbg_roundtrip(spark, sf_dir):
    """Surfer 6 binary (DSBB/GSBG) driver gate (frmts/gsg/gsbgdataset.cpp;
    public Golden Software grid spec): a float32 grid through the int16
    nx/ny + 6-double-extent header with BOTTOM-UP rows — punched holes
    carry the format's famous 1.70141e38 blank value and the READ drops
    them, so the output domain matches the oracle directly.  Values are
    quarter-integers, exact in float32."""
    import tempfile

    from gdal_spark.sources import surfer as SRF

    path = tempfile.mkdtemp(prefix="gdalspark_gsbg_gate_") + "/grid.grd"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        (((F.col("gx") * 19) % 103 + (F.col("gy") * 23) % 91)
         .cast("double") * 0.25 - 8.0),
    ).filter((F.col("gx") * 5 + F.col("gy") * 3) % 11 != 0)
    SRF.write_gsbg(cells, path, w, w, xlo=-3.0, ylo=40.0, cell=0.5,
                   block_rows=32)
    back = SRF.read_gsbg(spark, path, block_rows=32)
    return back.groupBy(
        (F.col("gy") / 16).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val")
              * (1 + (F.col("gx") * 7 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_surfer_gsag() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 31) % 97 + (gy.i * 13) % 83) * 0.125 + 2.0 AS val
      FROM g gy CROSS JOIN g gx
      WHERE (gx.i + gy.i * 7) % 13 <> 0)
SELECT (x // 16)::bigint AS col_band,
       sum(val * (1 + (x * 3 + y * 11) % 19)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY col_band"""


@register("surfer_gsag_roundtrip", _sql_surfer_gsag())
def q_surfer_gsag_roundtrip(spark, sf_dir):
    """Surfer ASCII (DSAA/GSAG) driver gate (frmts/gsg/gsagdataset.cpp):
    the text sibling — 5-line header then whitespace-separated z values,
    south row first.  The engine writes fixed-width 18-char cells (one
    text line per grid row, a legal wrap) so both the SINK and the SCAN
    run as disjoint-range pwrite/pread tasks with no shuffle to one
    file; eighth-integer values roundtrip %.12g text exactly."""
    import tempfile

    from gdal_spark.sources import surfer as SRF

    path = tempfile.mkdtemp(prefix="gdalspark_gsag_gate_") + "/grid.grd"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        (((F.col("gx") * 31) % 97 + (F.col("gy") * 13) % 83)
         .cast("double") * 0.125 + 2.0),
    ).filter((F.col("gx") + F.col("gy") * 7) % 13 != 0)
    SRF.write_gsag(cells, path, w, w, xlo=100.0, ylo=-45.0, cell=0.25)
    back = SRF.read_gsag(spark, path, block_rows=32)
    return back.groupBy(
        (F.col("gx") / 16).cast("long").alias("col_band")
    ).agg(
        F.sum(F.col("val")
              * (1 + (F.col("gx") * 3 + F.col("gy") * 11) % 19))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# FITS primary-HDU driver (frmts/fits/fitsdataset.cpp; NASA FITS 4.0)
# ---------------------------------------------------------------------------

def _sql_fits_u16() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 257 + gy.i * 641) % 65521)::double AS val
      FROM g gy CROSS JOIN g gx)
SELECT (y // 16)::bigint AS row_band,
       sum(val * (1 + (x * 5 + y * 7) % 13)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY row_band"""


@register("fits_roundtrip", _sql_fits_u16())
def q_fits_roundtrip(spark, sf_dir):
    """FITS primary-HDU driver gate (frmts/fits/fitsdataset.cpp; public
    NASA FITS 4.0 standard): the classic unsigned-16-bit idiom — raw
    BITPIX=16 big-endian samples with BZERO=32768 so the physical range
    is 0..65535 — through the 80-char-card 2880-byte-block header and
    the standard's BOTTOM-up row origin (the reference flips at
    fitsdataset.cpp:1747; so does the engine's slab math).  Values
    0..65520 cover both signed halves of the raw storage."""
    import tempfile

    from gdal_spark.sources import fits as FITS

    path = tempfile.mkdtemp(prefix="gdalspark_fits_gate_") + "/img.fits"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 257 + F.col("gy") * 641) % 65521).cast("double"),
    )
    FITS.write_fits(cells, path, w, w, bitpix=16, bzero=32768.0,
                    block_rows=32)
    back = FITS.read_fits(spark, path, block_rows=32)
    return back.groupBy(
        (F.col("gy") / 16).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 7) % 13))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_fits_f32() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 37) % 211 - (gy.i * 29) % 173) * 0.5 AS val
      FROM g gy CROSS JOIN g gx
      WHERE (gx.i * 3 + gy.i) % 7 <> 0)
SELECT (x // 16)::bigint AS col_band,
       sum(val * (1 + (x * 11 + y * 2) % 23)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY col_band"""


@register("fits_float_roundtrip", _sql_fits_f32())
def q_fits_float_roundtrip(spark, sf_dir):
    """FITS BITPIX=-32 gate: IEEE float32 big-endian payload with a
    BSCALE=0.5 linear transform (physical = BZERO + BSCALE*raw,
    fitsdataset.cpp BSCALE handling) — the raw values are integers so
    the scaled roundtrip is float-exact.  Missing cells stay at the
    fill and are excluded by the digest's domain filter on both
    sides."""
    import tempfile

    from gdal_spark.sources import fits as FITS

    path = tempfile.mkdtemp(prefix="gdalspark_fitsf_gate_") + "/img.fits"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 37) % 211 - (F.col("gy") * 29) % 173)
        .cast("double") * 0.5,
    ).filter((F.col("gx") * 3 + F.col("gy")) % 7 != 0)
    FITS.write_fits(cells, path, w, w, bitpix=-32, bscale=0.5,
                    fill=-1e30, block_rows=32)
    back = FITS.read_fits(spark, path, block_rows=32).filter(
        F.col("val") > -1e29)
    return back.groupBy(
        (F.col("gx") / 16).cast("long").alias("col_band")
    ).agg(
        F.sum(F.col("val")
              * (1 + (F.col("gx") * 11 + F.col("gy") * 2) % 23))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# WAsP .map driver (ogr/ogrsf_frmts/wasp/ogrwasplayer.cpp)
# ---------------------------------------------------------------------------

def _sql_wasp() -> str:
    return """WITH f AS (SELECT unnest(generate_series(0, 239)) AS fid),
v AS (SELECT fid, unnest(generate_series(0, 2 + fid % 4)) AS seq
      FROM f),
e AS (SELECT ((fid * 7) % 50) * 0.125 AS z, seq,
             (fid * 10 + seq * 3) * 0.5 AS x,
             ((fid * 3 + seq * 2) % 400) * 0.5 - 100.0 AS y
      FROM v)
SELECT seq::bigint AS seq,
       count(*)::bigint AS n,
       sum(x * 2 + y) AS xy_digest,
       sum(z * (1 + seq)) AS z_digest
FROM e GROUP BY seq"""


@register("wasp_elevation_roundtrip", _sql_wasp())
def q_wasp_elevation_roundtrip(spark, sf_dir):
    """WAsP .map driver gate (ogr/ogrsf_frmts/wasp/ogrwasplayer.cpp:364):
    240 elevation contours through the 4-line header + fixed-width
    ``%11.3f %11d`` attribute lines and ``%11.1f`` wrapped vertex pairs.
    z values are eighth-integers (exact at the format's 3 decimals),
    coordinates half-integers (exact at its 1 decimal), so the text
    roundtrip is value-exact; the shard write is map-only after the
    fid repartition and the scan is one task per shard."""
    import tempfile

    from gdal_spark.sources import wasp as WASP

    d = tempfile.mkdtemp(prefix="gdalspark_wasp_gate_")
    verts = spark.range(240).select(
        F.col("id").alias("fid"),
        F.explode(F.sequence(F.lit(0), 2 + F.col("id") % 4)).alias("seq"),
    ).select(
        "fid", "seq",
        (((F.col("fid") * 7) % 50) * 0.125).alias("z"),
        ((F.col("fid") * 10 + F.col("seq") * 3) * 0.5).alias("x"),
        (((F.col("fid") * 3 + F.col("seq") * 2) % 400) * 0.5 - 100.0)
        .alias("y"),
    )
    WASP.write_elevation_maps(verts, d, 8)
    back = WASP.read_elevation_maps(spark, d)
    return back.groupBy("seq").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x") * 2 + F.col("y")).alias("xy_digest"),
        F.sum(F.col("z") * (1 + F.col("seq"))).alias("z_digest"),
    )


@register("jml_roundtrip", _FMT_POINTS_ORACLE)
def q_jml_roundtrip(spark, sf_dir):
    """OpenJUMP JML driver gate (ogr/ogrsf_frmts/jml/
    ogrjmlwriterlayer.cpp): the points layer written as self-describing
    JML — JCSGMLInputTemplate column declarations (valueElement
    property/name/attributeValue triplet per column), inline gml:Point
    coordinates with the dialect's decimal/cs/ts attributes,
    one <property name=..> per field — one shard per partition, read
    back one task per shard with the template cross-checked against
    the requested columns."""
    import tempfile

    from gdal_spark.sources import jml as JML

    d = tempfile.mkdtemp(prefix="gdalspark_jml_gate_")
    pts = _fmt_points(spark, sf_dir)
    JML.write_point_jmls(
        pts, d, "lon", "lat", ["o_orderkey", "cents"], num_files=8)
    back = JML.read_point_jmls(spark, d, ["o_orderkey", "cents"])
    return back.select(
        "o_orderkey", "cents",
        R(F.col("x"), 6).alias("lon"), R(F.col("y"), 6).alias("lat"),
    )


# ---------------------------------------------------------------------------
# Selafin / SERAFIN mesh driver (ogr/ogrsf_frmts/selafin/io_selafin.cpp)
# ---------------------------------------------------------------------------

_SELAFIN_G = 96  # node grid side for the gates


def _selafin_write_gate(spark):
    """Shared fixture: structured triangle mesh over a G×G node grid,
    two variables, written through the distributed SERAFIN sink."""
    import tempfile

    from gdal_spark.sources import selafin as SLF

    g = _SELAFIN_G
    npoin, nelem = g * g, (g - 1) * (g - 1) * 2
    nodes = spark.range(npoin).select(
        F.col("id").alias("node"),
        ((F.col("id") % g) * 2.5).alias("x"),
        ((F.col("id") / g).cast("long") * 1.5).alias("y"),
        (((F.col("id") * 7) % 101) * 0.25).alias("v0"),
        (((F.col("id") * 13) % 59) * 0.5).alias("v1"),
    )
    elems = spark.range(nelem).select(
        F.col("id").alias("elem"),
        (F.col("id") / 2).cast("long").alias("cell"),
        (F.col("id") % 2).alias("up"),
    ).select(
        "elem",
        ((F.col("cell") / (g - 1)).cast("long") * g
         + F.col("cell") % (g - 1)).alias("v00"),
        "up",
    ).select(
        "elem",
        F.when(F.col("up") == 0, F.col("v00"))
         .otherwise(F.col("v00") + 1).alias("n0"),
        F.when(F.col("up") == 0, F.col("v00") + 1)
         .otherwise(F.col("v00") + g + 1).alias("n1"),
        (F.col("v00") + g).alias("n2"),
    )
    path = tempfile.mkdtemp(prefix="gdalspark_slf_gate_") + "/mesh.slf"
    SLF.write_selafin(nodes, elems, path, npoin, nelem,
                      variables=["WATER DEPTH", "VELOCITY"],
                      block=1024)
    return SLF, path


def _sql_selafin_nodes() -> str:
    g = _SELAFIN_G
    return f"""WITH n AS (SELECT unnest(generate_series(0, {g * g - 1})) AS i),
v AS (SELECT i, (i % {g}) * 2.5 AS x, (i // {g}) * 1.5 AS y,
             ((i * 7) % 101) * 0.25 AS v0, ((i * 13) % 59) * 0.5 AS v1
      FROM n)
SELECT (i // {g * 8})::bigint AS band,
       count(*)::bigint AS n,
       sum(x * 2 + y) AS xy_digest,
       sum(v0 * 3 + v1) AS val_digest
FROM v GROUP BY band"""


@register("selafin_mesh_roundtrip", _sql_selafin_nodes())
def q_selafin_mesh_roundtrip(spark, sf_dir):
    """Selafin/SERAFIN node-layer gate (ogr/ogrsf_frmts/selafin/
    io_selafin.cpp): a 96×96 two-variable mesh through the
    Fortran-framed record stream — 4-byte big-endian counts bracketing
    every record, 80-byte SERAFIN-tagged title, 32-char variable
    records, big-endian float32 X/Y/value payloads.  Node coordinates
    and values are eighth/quarter-integers, exact in float32; both the
    sink and the scan are one node-range slab per task pwrite/pread-ing
    disjoint strides of each record."""
    SLF, path = _selafin_write_gate(spark)
    g = _SELAFIN_G
    back = SLF.read_selafin_nodes(spark, path, block=1024)
    return back.groupBy(
        (F.col("node") / (g * 8)).cast("long").alias("band")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x") * 2 + F.col("y")).alias("xy_digest"),
        F.sum(F.col("v0") * 3 + F.col("v1")).alias("val_digest"),
    )


def _sql_selafin_elems() -> str:
    g = _SELAFIN_G
    return f"""WITH e AS (SELECT unnest(generate_series(0, {(g - 1) * (g - 1) * 2 - 1})) AS i),
t AS (SELECT i, (i // 2) AS cell, (i % 2) AS up FROM e),
k AS (SELECT i, (cell // {g - 1}) * {g} + cell % {g - 1} AS v00, up FROM t),
c AS (SELECT i,
             CASE WHEN up = 0 THEN v00 ELSE v00 + 1 END AS n0,
             CASE WHEN up = 0 THEN v00 + 1 ELSE v00 + {g + 1} END AS n1,
             v00 + {g} AS n2
      FROM k)
SELECT (i // 1000)::bigint AS band,
       count(*)::bigint AS n,
       sum(n0 + n1 * 2 + n2 * 3)::bigint AS conn_digest
FROM c GROUP BY band"""


@register("selafin_elements_roundtrip", _sql_selafin_elems())
def q_selafin_elements_roundtrip(spark, sf_dir):
    """Selafin element-layer gate: the IKLE connectivity record — NELEM
    triangles of 1-BASED node ids (the read applies the same -1 shift
    as ogrselafinlayer.cpp's element layer) — written and re-read as
    element-range slabs.  The digest is pure connectivity, so any
    off-by-one in the 1-based storage or the frame offsets fails the
    oracle."""
    SLF, path = _selafin_write_gate(spark)
    back = SLF.read_selafin_elements(spark, path, block=1024)
    return back.groupBy(
        (F.col("elem") / 1000).cast("long").alias("band")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("n0") + F.col("n1") * 2 + F.col("n2") * 3)
        .cast("long").alias("conn_digest"),
    )


# ---------------------------------------------------------------------------
# Quality-classifier training + distribution-drift testing (corpus ops)
# ---------------------------------------------------------------------------

def _sql_logreg_train() -> str:
    return """WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), ' +')) AS tok
  FROM documents),
f AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::bigint % 32 AS feat
      FROM toks),
cnt AS (SELECT doc_id, feat, count(*)::bigint AS c
        FROM f GROUP BY doc_id, feat),
nd AS (SELECT doc_id, sum(c)::bigint AS n,
              CASE WHEN (doc_id * 7919) % 13 < 5 THEN 1 ELSE 0 END AS y
       FROM cnt GROUP BY doc_id),
x AS (SELECT cnt.doc_id, cnt.feat,
             ((cnt.c * 1000 - (cnt.c * 1000) % nd.n) / nd.n)::bigint AS xk
      FROM cnt JOIN nd USING (doc_id)),
nn AS (SELECT count(*)::bigint AS n_docs FROM nd),
g1 AS (SELECT x.feat,
              sum((500000 - 1000000 * nd.y) * x.xk)::bigint AS gs
       FROM x JOIN nd USING (doc_id) GROUP BY x.feat),
w1 AS (SELECT feat,
              -(((gs - ((gs % (1000 * n_docs) + 1000 * n_docs)
                        % (1000 * n_docs))) / (1000 * n_docs))::bigint)
                AS wm
       FROM g1, nn),
z AS (SELECT x.doc_id, sum(x.xk * w1.wm)::bigint AS zs
      FROM x JOIN w1 USING (feat) GROUP BY x.doc_id),
r2 AS (SELECT nd.doc_id,
              floor((1.0 / (1.0 + exp(-(coalesce(z.zs, 0)::double / 1e9)))
                     - nd.y) * 1e6)::bigint AS rm
       FROM nd LEFT JOIN z USING (doc_id)),
g2 AS (SELECT x.feat, sum(r2.rm * x.xk)::bigint AS gs
       FROM x JOIN r2 USING (doc_id) GROUP BY x.feat),
w2 AS (SELECT w1.feat,
              (w1.wm - ((g2.gs - ((g2.gs % (1000 * n_docs)
                                   + 1000 * n_docs) % (1000 * n_docs)))
                        / (1000 * n_docs))::bigint) AS wm
       FROM w1 JOIN g2 USING (feat), nn),
allf AS (SELECT unnest(generate_series(0, 31)) AS feat)
SELECT allf.feat::bigint AS feat,
       coalesce(w2.wm, 0)::bigint AS w_micro,
       (SELECT n_docs FROM nn) AS n_docs
FROM allf LEFT JOIN w2 ON w2.feat = allf.feat"""


@register("text_quality_train", _sql_logreg_train())
def q_text_quality_train(spark, sf_dir):
    """Quality-classifier TRAINING gate (the fastText/DCLM-style step
    that produces what linear_quality_score consumes): 2 full-batch
    logistic-regression iterations over 32 md5-hashed bag-of-words
    features, driver-paced with the dim-bounded weight vector broadcast
    per round (the kmeans-Lloyd pattern).  The trajectory is integer-
    exact — kilo-quantized features, micro-floored residuals, exact
    floor-division updates — so the DuckDB oracle replays it CTE by
    CTE and the 32 final weights must match bit-for-bit."""
    docs = _read(spark, sf_dir, "documents")
    label = ((F.col("doc_id") * 7919) % 13 < 5).cast("int")
    weights, n_docs = T.logreg_quality_train(
        docs, label, dim=32, iters=2, lr=1)
    return spark.createDataFrame(
        [(f, w, n_docs) for f, w in weights],
        "feat long, w_micro long, n_docs long")


def _sql_ks_drift() -> str:
    return """WITH v AS (
  SELECT n_chars,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::bigint AS a,
         sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::bigint AS b
  FROM documents GROUP BY n_chars),
c AS (SELECT n_chars,
             sum(a) OVER (ORDER BY n_chars)::bigint AS ca,
             sum(b) OVER (ORDER BY n_chars)::bigint AS cb
      FROM v),
t AS (SELECT sum(a)::bigint AS na, sum(b)::bigint AS nb FROM v),
d AS (SELECT abs(ca * nb - cb * na)::bigint AS dnum, na, nb FROM c, t),
m AS (SELECT na, nb, max(dnum)::bigint AS dmax FROM d GROUP BY na, nb)
SELECT na, nb,
       ((dmax * 1000000 - (dmax * 1000000) % (na * nb))
        / (na * nb))::bigint AS ks_micro
FROM m"""


@register("corpus_ks_drift", _sql_ks_drift())
def q_corpus_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift test between the English and
    non-English document-length distributions (the distribution-shift
    check a corpus refresh pipeline runs before swapping sources):
    per-distinct-value counts, then the two empirical CDFs via the
    distributed two-level prefix scan (operators/curve_sort.prefix_sums
    — range partition + broadcast partition offsets, NO single-
    partition window), KS = max |F_a − F_b| kept in exact integer
    cross-multiplied form (ca·nb − cb·na over the common denominator
    na·nb) and floor-quantized to micro units only at the end."""
    from gdal_spark.operators.curve_sort import prefix_sums

    docs = _read(spark, sf_dir, "documents").select("lang", "n_chars")
    per_v = docs.groupBy("n_chars").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long").alias("a"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
        .cast("long").alias("b"),
    )
    cums = prefix_sums(per_v, "n_chars", ["a", "b"])
    tot = per_v.agg(F.sum("a").cast("long").alias("na"),
                    F.sum("b").cast("long").alias("nb"))
    d = cums.crossJoin(F.broadcast(tot)).select(
        F.abs(F.col("cum_a") * F.col("nb")
              - F.col("cum_b") * F.col("na")).alias("dnum"),
        "na", "nb",
    )
    best = d.groupBy("na", "nb").agg(F.max("dnum").alias("dmax"))
    num = F.col("dmax") * 1000000
    den = F.col("na") * F.col("nb")
    return best.select(
        "na", "nb",
        ((num - F.pmod(num, den)) / den).cast("long").alias("ks_micro"),
    )


_EE_ITERS = 6
_MW_ITERS = 8


def _sql_equal_earth() -> str:
    lon, lat = PRJ.col("lon"), PRJ.col("lat")
    x, y = PRJ.equal_earth_forward(lon, lat)
    step = PRJ.equal_earth_newton_step()
    lon_b, lat_b = PRJ.equal_earth_inverse_closed(PRJ.col("ee_x"))
    ctes = [f"""s0 AS (SELECT o_orderkey, {x.s} AS ee_x, {y.s} AS ee_y,
        ({y.s}) / 6378137.0 AS _yn, ({y.s}) / 6378137.0 AS _th FROM pts)"""]
    prev = "s0"
    for i in range(1, _EE_ITERS + 1):
        ctes.append(f"s{i} AS (SELECT * REPLACE ({step.s} AS _th) "
                    f"FROM {prev})")
        prev = f"s{i}"
    cte_block = ",\n".join(ctes)
    return f"""WITH pts AS ({SQL_POINTS}),
{cte_block}
SELECT o_orderkey, {SR('ee_x', 3)} AS ee_x, {SR('ee_y', 3)} AS ee_y,
       {SR(lon_b.s, 6)} AS lon_back, {SR(lat_b.s, 6)} AS lat_back
FROM {prev}"""


@register("equal_earth_project", _sql_equal_earth())
def q_equal_earth_project(spark, sf_dir):
    """Equal Earth forward + inverse roundtrip (Šavrič, Patterson &
    Jenny 2019; PROJ +proj=eqearth): the published 4-coefficient
    polynomial through the dual emitter — sinθ = (√3/2)sinφ closed-form
    forward, fixed-6-iteration Newton inverse seeded at y/R with each
    step MATERIALIZED (withColumn here, a `SELECT * REPLACE` CTE in the
    oracle) so both engines execute the identical linear trajectory.
    lon/lat_back at 6 decimals pin the inverse to ~1e-7° (≈ 1 cm)."""
    pts = order_points(spark, sf_dir)
    lon, lat = PRJ.col("lon"), PRJ.col("lat")
    x, y = PRJ.equal_earth_forward(lon, lat)
    df = pts.select(
        "o_orderkey", x.c.alias("ee_x"), y.c.alias("ee_y"),
    ).withColumn("_yn", F.col("ee_y") / 6378137.0)      .withColumn("_th", F.col("_yn"))
    step = PRJ.equal_earth_newton_step()
    for _ in range(_EE_ITERS):
        df = df.withColumn("_th", step.c)
    lon_b, lat_b = PRJ.equal_earth_inverse_closed(PRJ.col("ee_x"))
    return df.select(
        "o_orderkey", R(F.col("ee_x"), 3).alias("ee_x"),
        R(F.col("ee_y"), 3).alias("ee_y"),
        R(lon_b.c, 6).alias("lon_back"), R(lat_b.c, 6).alias("lat_back"),
    )


def _sql_mollweide() -> str:
    lon, lat = PRJ.col("lon"), PRJ.col("lat")
    tgt = PRJ.mollweide_target(lat)
    step = PRJ.mollweide_newton_step()
    x, y = PRJ.mollweide_xy(lon)
    lon_b, lat_b = PRJ.mollweide_inverse(PRJ.col("mw_x"), PRJ.col("mw_y"))
    ctes = [f"""s0 AS (SELECT o_orderkey, lon, lat, {tgt.s} AS _tgt,
        radians(lat) AS _th FROM pts)"""]
    prev = "s0"
    for i in range(1, _MW_ITERS + 1):
        ctes.append(f"s{i} AS (SELECT * REPLACE ({step.s} AS _th) "
                    f"FROM {prev})")
        prev = f"s{i}"
    cte_block = ",\n".join(ctes)
    return f"""WITH pts AS ({SQL_POINTS}),
{cte_block},
xy AS (SELECT o_orderkey, {x.s} AS mw_x, {y.s} AS mw_y FROM {prev})
SELECT o_orderkey, {SR('mw_x', 3)} AS mw_x, {SR('mw_y', 3)} AS mw_y,
       {SR(lon_b.s, 6)} AS lon_back, {SR(lat_b.s, 6)} AS lat_back
FROM xy"""


@register("mollweide_project", _sql_mollweide())
def q_mollweide_project(spark, sf_dir):
    """Mollweide forward + closed-form inverse (Snyder 1987 §31; PROJ
    +proj=moll): 2θ + sin2θ = π·sinφ solved by fixed-8-iteration Newton
    seeded at φ, each step materialized (identical linear trajectory on
    both engines), inverse via the closed forms 31-6..31-8.  The
    equal-area pseudocylindrical pair completes the world-projection
    menu next to LAEA/Albers (equal-area azimuthal/conic)."""
    pts = order_points(spark, sf_dir)
    lon, lat = PRJ.col("lon"), PRJ.col("lat")
    df = pts.withColumn("_tgt", PRJ.mollweide_target(lat).c)             .withColumn("_th", F.radians(F.col("lat")))
    step = PRJ.mollweide_newton_step()
    for _ in range(_MW_ITERS):
        df = df.withColumn("_th", step.c)
    x, y = PRJ.mollweide_xy(lon)
    df = df.select("o_orderkey", x.c.alias("mw_x"), y.c.alias("mw_y"))
    lon_b, lat_b = PRJ.mollweide_inverse(PRJ.col("mw_x"), PRJ.col("mw_y"))
    return df.select(
        "o_orderkey", R(F.col("mw_x"), 3).alias("mw_x"),
        R(F.col("mw_y"), 3).alias("mw_y"),
        R(lon_b.c, 6).alias("lon_back"), R(lat_b.c, 6).alias("lat_back"),
    )


# ---------------------------------------------------------------------------
# Corpus statistics: Zipf rank-frequency fit + per-language char entropy
# ---------------------------------------------------------------------------

def _sql_zipf_fit() -> str:
    return """WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), ' +')) AS tok
  FROM documents),
freq AS (SELECT tok, count(*)::bigint AS n FROM toks GROUP BY tok),
ranked AS (SELECT n,
                  row_number() OVER (ORDER BY n DESC, tok) AS rk
           FROM freq),
top AS (SELECT floor(ln(rk::double) * 1e6)::bigint AS lx,
               floor(ln(n::double) * 1e6)::bigint AS ly
        FROM ranked WHERE rk <= 256),
s AS (SELECT count(*)::bigint AS m,
             sum(lx)::bigint AS sx, sum(ly)::bigint AS sy,
             sum(lx * ly)::bigint AS sxy, sum(lx * lx)::bigint AS sxx
      FROM top),
v AS (SELECT count(*)::bigint AS vocab, sum(n)::bigint AS total
      FROM freq)
SELECT m, vocab, total,
       floor((m::double * sxy::double - sx::double * sy::double)
             / (m::double * sxx::double - sx::double * sx::double)
             * 1e6)::bigint AS slope_micro
FROM s, v"""


@register("text_zipf_fit", _sql_zipf_fit())
def q_text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the corpus token rank-frequency curve (the
    distribution sanity check a tokenizer/corpus pipeline runs): token
    frequencies, rank via the distributed range-partitioned curve_rank
    (total order (n DESC, tok) — no single-partition window), then a
    least-squares slope over the top-256 (ln rank, ln freq) pairs with
    micro-quantized logs so every sum is integer-exact; the one final
    double expression is evaluated from identical longs in identical
    order on both engines.  Healthy natural text gives slope ≈ −1."""
    from gdal_spark.operators.curve_sort import curve_rank

    docs = _read(spark, sf_dir, "documents")
    freq = docs.select(
        F.explode(F.split(F.trim(F.col("text")), " +")).alias("tok")
    ).groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = curve_rank(
        freq.select(F.col("n"), (-F.col("n")).alias("_neg"), "tok"),
        "_neg", "tok", pos_name="rk")
    top = ranked.filter(F.col("rk") <= 256).select(
        F.floor(F.log(F.col("rk").cast("double")) * 1e6)
        .cast("long").alias("lx"),
        F.floor(F.log(F.col("n").cast("double")) * 1e6)
        .cast("long").alias("ly"),
    )
    s = top.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("long").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("long").alias("sxx"),
    )
    v = freq.agg(F.count(F.lit(1)).cast("long").alias("vocab"),
                 F.sum("n").cast("long").alias("total"))
    md, sxyd = F.col("m").cast("double"), F.col("sxy").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    return s.crossJoin(F.broadcast(v)).select(
        "m", "vocab", "total",
        F.floor((md * sxyd - sxd * syd) / (md * sxxd - sxd * sxd) * 1e6)
        .cast("long").alias("slope_micro"),
    )


def _sql_char_entropy() -> str:
    return """WITH ch AS (
  SELECT lang, unnest(string_split(text, '')) AS c
  FROM documents),
cnt AS (SELECT lang, c, count(*)::bigint AS n FROM ch GROUP BY lang, c),
tot AS (SELECT lang, sum(n)::bigint AS nt FROM cnt GROUP BY lang),
ent AS (SELECT cnt.lang,
               sum(cnt.n * floor(ln(tot.nt::double / cnt.n::double)
                                 * 1e6)::bigint)::bigint AS w,
               max(tot.nt) AS nt
        FROM cnt JOIN tot ON cnt.lang = tot.lang
        GROUP BY cnt.lang)
SELECT lang,
       nt AS n_chars,
       ((w - ((w % nt + nt) % nt)) / nt)::bigint AS entropy_micro
FROM ent"""


@register("text_char_entropy", _sql_char_entropy())
def q_text_char_entropy(spark, sf_dir):
    """Per-language character-level Shannon entropy (nats) — the
    encoding-health / language-mix diagnostic: character counts per
    lang (the vocabulary is alphabet-bounded, so the aggregate is a
    dimension-sized shuffle), per-char surprisal ln(N/n) micro-floored
    at the DISTINCT-char level (one float op per char, integer
    everywhere after), entropy = Σ n·surprisal / N via exact floor
    division."""
    docs = _read(spark, sf_dir, "documents").select("lang", "text")
    cnt = docs.select(
        "lang",
        F.explode(F.split(F.col("text"), "")).alias("c"),
    ).filter(F.col("c") != "").groupBy("lang", "c").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    tot = cnt.groupBy("lang").agg(F.sum("n").cast("long").alias("nt"))
    ent = cnt.join(tot, "lang").groupBy("lang").agg(
        F.sum(
            F.col("n")
            * F.floor(F.log(F.col("nt").cast("double")
                            / F.col("n").cast("double")) * 1e6)
            .cast("long")
        ).cast("long").alias("w"),
        F.max("nt").alias("nt"),
    )
    w, nt = F.col("w"), F.col("nt")
    return ent.select(
        "lang", nt.alias("n_chars"),
        ((w - F.pmod(w, nt)) / nt).cast("long").alias("entropy_micro"),
    )


# ---------------------------------------------------------------------------
# FARSITE LCP + PCI PAux drivers (frmts/raw/lcpdataset.cpp, pauxdataset.cpp)
# ---------------------------------------------------------------------------

def _sql_lcp() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
b AS (SELECT unnest(generate_series(0, 7)) AS band),
v AS (SELECT band, gy.i AS y, gx.i AS x,
             ((gx.i * 13 + gy.i * 7 + band * 29) % 4001 - 1000)::bigint
               AS val
      FROM b CROSS JOIN g gy CROSS JOIN g gx)
SELECT band, (y // 24)::bigint AS row_band,
       sum(val * (1 + (x * 3 + y) % 11))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band, row_band"""


@register("lcp_roundtrip", _sql_lcp())
def q_lcp_roundtrip(spark, sf_dir):
    """FARSITE LCP landscape gate (frmts/raw/lcpdataset.cpp): an
    8-band (crown fuels, no ground fuels — the flag pair DERIVES the
    band count, 21/20 at offsets 0/4) int16 landscape through the
    7316-byte header and the format's band-interleaved-by-PIXEL
    layout.  The digest spans all bands so a wrong pixel/band stride
    scrambles it."""
    import tempfile

    from gdal_spark.sources import lcp as LCP

    path = tempfile.mkdtemp(prefix="gdalspark_lcp_gate_") + "/fire.lcp"
    w, bands = _ENVI_W, 8
    cells = spark.range(bands * w * w).select(
        (F.col("id") / (w * w)).cast("long").alias("band"),
        ((F.col("id") % (w * w)) / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 13 + F.col("gy") * 7 + F.col("band") * 29) % 4001
         - 1000).cast("long"),
    )
    LCP.write_lcp(cells, path, w, w, crown=True, ground=False,
                  block_rows=32, fill=0, latitude=44,
                  west=500000.0, north=4600000.0, cell=30.0)
    back = LCP.read_lcp(spark, path, block_rows=32)
    return back.groupBy(
        "band", (F.col("gy") / 24).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val") * (1 + (F.col("gx") * 3 + F.col("gy")) % 11))
        .cast("long").alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_paux() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
b AS (SELECT unnest(generate_series(0, 2)) AS band),
v AS (SELECT band, gy.i AS y, gx.i AS x,
             ((gx.i * 17 + gy.i * 11 + band * 5) % 251)::double * 0.25
               AS val
      FROM b CROSS JOIN g gy CROSS JOIN g gx)
SELECT band, (x // 24)::bigint AS col_band,
       sum(val * (1 + (x + y * 5) % 13)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band, col_band"""


@register("paux_roundtrip", _sql_paux())
def q_paux_roundtrip(spark, sf_dir):
    """PCI PAux gate (frmts/raw/pauxdataset.cpp): a 3-band float32 raw
    file under the AuxilaryTarget/RawDefinition/ChanDefinition-N text
    sidecar — per-channel (offset, pixeloffset, lineoffset) byte
    triples with the 'Swapped' little-endian tag.  The sink writes BSQ
    triples; the scan trusts only the declared strides, so the gate
    fails if either side misreads the interleave contract."""
    import tempfile

    from gdal_spark.sources import paux as PAUX

    path = tempfile.mkdtemp(prefix="gdalspark_paux_gate_") + "/img.aux"
    w, bands = _ENVI_W, 3
    cells = spark.range(bands * w * w).select(
        (F.col("id") / (w * w)).cast("long").alias("band"),
        ((F.col("id") % (w * w)) / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 17 + F.col("gy") * 11 + F.col("band") * 5) % 251)
        .cast("double") * 0.25,
    )
    PAUX.write_paux(cells, path, w, w, bands, dtype="f4", block_rows=32)
    back = PAUX.read_paux(spark, path, block_rows=32)
    return back.groupBy(
        "band", (F.col("gx") / 24).cast("long").alias("col_band")
    ).agg(
        F.sum(F.col("val") * (1 + (F.col("gx") + F.col("gy") * 5) % 13))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_hf2() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 7 + gy.i * 13) % 199) * 0.25 - 10.0 AS val
      FROM g gy CROSS JOIN g gx)
SELECT (y // 16)::bigint AS row_band,
       sum(val * (1 + (x * 5 + y * 3) % 17)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY row_band"""


@register("hf2_roundtrip", _sql_hf2())
def q_hf2_roundtrip(spark, sf_dir):
    """HF2 heightfield gate (frmts/hf2/hf2dataset.cpp; public L3DT
    spec): a 96×96 grid through the tiled delta-compressed layout —
    per-tile f32 scale/offset, per-row minimal word size (1/2/4-byte
    signed deltas off an i32 seed), tile row 0 at the BOTTOM.  Values
    are quarter-integers and the vertical precision is 0.25, so
    quantization is exact.  The sink is the two-pass distributed
    variable-length pattern (encode per tile, lengths-only to the
    driver, offset-map broadcast, map-only pwrite); the scan walks
    only structural bytes driver-side then decodes one tile per
    task."""
    import tempfile

    from gdal_spark.sources import hf2 as HF2

    path = tempfile.mkdtemp(prefix="gdalspark_hf2_gate_") + "/t.hf2"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 7 + F.col("gy") * 13) % 199).cast("double")
        * 0.25 - 10.0,
    )
    HF2.write_hf2(cells, path, w, w, tile=32, vert_pres=0.25)
    back = HF2.read_hf2(spark, path)
    return back.groupBy(
        (F.col("gy") / 16).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val")
              * (1 + (F.col("gx") * 5 + F.col("gy") * 3) % 17))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_ngsgeoid() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 11 + gy.i * 17) % 173) * 0.125 - 8.0 AS val
      FROM g gy CROSS JOIN g gx)
SELECT (x // 16)::bigint AS col_band,
       sum(val * (1 + (x * 7 + y) % 19)) AS digest,
       sum(CASE WHEN y = 0 THEN val ELSE 0 END) AS north_row,
       count(*)::bigint AS n
FROM v GROUP BY col_band"""


@register("ngsgeoid_roundtrip", _sql_ngsgeoid())
def q_ngsgeoid_roundtrip(spark, sf_dir):
    """NGS GEOID .bin gate (frmts/ngsgeoid/ngsgeoiddataset.cpp): a
    geoid-height grid through the 44-byte SLAT/WLON/DLAT/DLON header
    whose IKIND word doubles as the endianness marker — this gate
    writes BIG-endian so the probe order (LE first, then BE,
    ngsgeoiddataset.cpp:163-186) is exercised on the fallback path —
    and the format's SOUTH-first rows.  The north_row digest column
    pins the bottom-up flip; eighth-integer values are float32-
    exact."""
    import tempfile

    from gdal_spark.sources import ngsgeoid as NGS

    path = tempfile.mkdtemp(prefix="gdalspark_ngs_gate_") + "/g.bin"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 11 + F.col("gy") * 17) % 173).cast("double")
        * 0.125 - 8.0,
    )
    NGS.write_ngsgeoid(cells, path, w, w, big_endian=True, block_rows=32)
    back = NGS.read_ngsgeoid(spark, path, block_rows=32)
    return back.groupBy(
        (F.col("gx") / 16).cast("long").alias("col_band")
    ).agg(
        F.sum(F.col("val") * (1 + (F.col("gx") * 7 + F.col("gy")) % 19))
        .alias("digest"),
        F.sum(F.when(F.col("gy") == 0, F.col("val")).otherwise(0.0))
        .alias("north_row"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_jdem() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 23 + gy.i * 31) % 9973) * 0.1 AS val
      FROM g gy CROSS JOIN g gx)
SELECT (y // 16)::bigint AS row_band,
       sum(val * (1 + (x + y * 7) % 23)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY row_band"""


@register("jdem_roundtrip", _sql_jdem())
def q_jdem_roundtrip(spark, sf_dir):
    """JDEM gate (frmts/jdem/jdemdataset.cpp; Japanese GSI DEM): a
    96×96 grid through the 1011-byte ASCII header (3-digit size fields
    at offsets 23/26) and one fixed-width record per row — 6-digit
    mesh code, validated 1-based row number, 5-digit DECIMETER
    elevations (value·0.1 m).  Fixed record size makes the text file
    arithmetic-splittable, so both sink and scan are one row-block
    slab per task."""
    import tempfile

    from gdal_spark.sources import jdem as JD

    path = tempfile.mkdtemp(prefix="gdalspark_jdem_gate_") + "/d.mem"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 23 + F.col("gy") * 31) % 9973).cast("double")
        * 0.1,
    )
    JD.write_jdem(cells, path, w, w, block_rows=32)
    back = JD.read_jdem(spark, path, block_rows=32)
    return back.groupBy(
        (F.col("gy") / 16).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val") * (1 + (F.col("gx") + F.col("gy") * 7) % 23))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_avce00() -> str:
    return """WITH a AS (SELECT unnest(generate_series(0, 199)) AS aid),
v AS (SELECT aid, unnest(generate_series(0, 1 + aid % 5)) AS seq FROM a),
e AS (SELECT aid, seq,
             (aid * 4 + seq * 3) * 0.5 AS x,
             ((aid * 9 + seq * 7) % 600) * 0.25 - 70.0 AS y,
             (aid * 3) % 41 AS fnode, (aid * 3 + 1) % 41 AS tnode,
             aid % 13 AS lpoly, (aid + 5) % 13 AS rpoly
      FROM v)
SELECT lpoly::bigint AS lpoly,
       count(*)::bigint AS n_verts,
       count(DISTINCT aid)::bigint AS n_arcs,
       sum(x * 2 + y) AS xy_digest,
       sum(fnode + tnode * 3 + rpoly * 7)::bigint AS topo_digest
FROM e GROUP BY lpoly"""


@register("avce00_roundtrip", _sql_avce00())
def q_avce00_roundtrip(spark, sf_dir):
    """AVCE00 ARC-section gate (ogr/ogrsf_frmts/avc/avc_e00gen.cpp):
    200 arcs with full coverage topology (from/to node, left/right
    polygon) through the fixed-width interchange — seven %10d header
    fields, sign-prefixed %10.7E 14-char reals two pairs per line with
    the odd-count final 1-pair line, -1 terminator record.  Half/
    quarter-integer coordinates are exact at 8 significant digits; the
    topology digest fails if any of the seven header fields shifts
    columns."""
    import tempfile

    from gdal_spark.sources import avce00 as E00

    d = tempfile.mkdtemp(prefix="gdalspark_e00_gate_")
    verts = spark.range(200).select(
        F.col("id").alias("arc_id"),
        F.explode(F.sequence(F.lit(0), 1 + F.col("id") % 5)).alias("seq"),
    ).select(
        "arc_id", "seq",
        ((F.col("arc_id") * 4 + F.col("seq") * 3) * 0.5).alias("x"),
        (((F.col("arc_id") * 9 + F.col("seq") * 7) % 600) * 0.25 - 70.0)
        .alias("y"),
        ((F.col("arc_id") * 3) % 41).alias("fnode"),
        ((F.col("arc_id") * 3 + 1) % 41).alias("tnode"),
        (F.col("arc_id") % 13).alias("lpoly"),
        ((F.col("arc_id") + 5) % 13).alias("rpoly"),
    )
    E00.write_arc_e00s(verts, d, 8)
    back = E00.read_arc_e00s(spark, d)
    return back.groupBy("lpoly").agg(
        F.count(F.lit(1)).alias("n_verts"),
        F.countDistinct("arc_id").alias("n_arcs"),
        F.sum(F.col("x") * 2 + F.col("y")).alias("xy_digest"),
        F.sum(F.col("fnode") + F.col("tnode") * 3 + F.col("rpoly") * 7)
        .cast("long").alias("topo_digest"),
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (Xie et al. 2023, public): per-domain
# EXCESS loss against the corpus-level reference (the unigram-LM surprisal
# stands in for the reference model's loss — integer micro-nats all the
# way), one exponentiated-gradient step from uniform weights, then the
# largest-remainder integer apportionment of the token budget.  Complements
# corpus_temperature_mix (size-based weights): here the weights come from
# LOSS, not size.
# ---------------------------------------------------------------------------

_DOREMI_BUDGET = 1_000_000


def _sql_doremi() -> str:
    b = _DOREMI_BUDGET
    return f"""WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(text), ' +')) AS tok
  FROM documents),
tot AS (SELECT count(*)::double AS n FROM toks),
freq AS (SELECT tok,
                floor(ln(count(*)::double / (SELECT n FROM tot)) * 1e6)
                  ::bigint AS logp_micro,
                count(*)::bigint AS cnt
         FROM toks GROUP BY tok),
dom AS (SELECT t.source,
               sum(f.logp_micro)::bigint AS sl,
               count(*)::bigint AS nt
        FROM toks t JOIN freq f ON f.tok = t.tok
        GROUP BY t.source),
loss AS (SELECT source, nt,
                (((-sl) - (((-sl) % nt + nt) % nt)) / nt)::bigint
                  AS loss_micro
         FROM dom),
ref AS (SELECT (((-sum(sl)) - (((-sum(sl)) % sum(nt) + sum(nt))
                              % sum(nt))) / sum(nt))::bigint AS ref_micro
        FROM dom),
ex AS (SELECT source, nt, loss_micro,
              greatest(0, loss_micro - ref.ref_micro)::bigint
                AS excess_micro
       FROM loss, ref),
w AS (SELECT source, nt, loss_micro, excess_micro,
             exp(excess_micro::double / 1e6) AS wv
      FROM ex),
ws AS (SELECT list_reduce(list_prepend(0.0::double,
                                       list(wv ORDER BY source)),
                          (a, b) -> a + b) AS wsum FROM w),
raw AS (SELECT source, nt, loss_micro, excess_micro,
               {float(b)!r}::double * wv / ws.wsum AS r
        FROM w CROSS JOIN ws),
fl AS (SELECT source, nt, loss_micro, excess_micro,
              floor(r)::bigint AS alloc0,
              floor((r - floor(r)) * 1e6 + 0.5::double)::bigint AS rem_m
       FROM raw),
rk AS (SELECT *, row_number() OVER (ORDER BY rem_m DESC, source) AS rk,
              (SELECT {b} - sum(alloc0) FROM fl) AS residue
       FROM fl)
SELECT source, nt AS n_tokens, loss_micro, excess_micro,
       (alloc0 + CASE WHEN rk <= residue THEN 1 ELSE 0 END)::bigint
         AS alloc_tokens
FROM rk"""


@register("corpus_doremi_weights", _sql_doremi())
def q_corpus_doremi_weights(spark, sf_dir):
    """DoReMi-lite domain-reweighting gate: per-source mean unigram
    surprisal in exact integer micro-nats (one float op per DISTINCT
    token, floor-division means), excess over the corpus reference,
    exp(excess) exponentiated-gradient weights summed in source order
    (bit-identical fold both engines), largest-remainder apportionment
    of a 1M-token budget.  Every table past the corpus aggregate is
    domain-bounded."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim("text"), " +")).alias("tok"))
    n_total = toks.count()
    freq = toks.groupBy("tok").agg(
        F.floor(F.log(F.count(F.lit(1)).cast("double")
                      / F.lit(float(n_total))) * 1e6)
        .cast("long").alias("logp_micro"))
    dom = toks.join(freq, "tok").groupBy("source").agg(
        F.sum("logp_micro").cast("long").alias("sl"),
        F.count(F.lit(1)).cast("long").alias("nt"))
    neg = -F.col("sl")
    loss = dom.select(
        "source", "nt",
        ((neg - F.pmod(neg, F.col("nt"))) / F.col("nt")).cast("long")
        .alias("loss_micro"))
    refagg = dom.agg(F.sum("sl").alias("tsl"), F.sum("nt").alias("tnt"))
    rneg = -F.col("tsl")
    ref = refagg.select(
        ((rneg - F.pmod(rneg, F.col("tnt"))) / F.col("tnt")).cast("long")
        .alias("ref_micro"))
    ex = loss.crossJoin(F.broadcast(ref)).select(
        "source", "nt", "loss_micro",
        F.greatest(F.lit(0), F.col("loss_micro") - F.col("ref_micro"))
        .cast("long").alias("excess_micro"))
    w = ex.withColumn("wv", F.exp(F.col("excess_micro").cast("double")
                                  / 1e6))
    ws = w.agg(F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("source", "wv"))),
            lambda s: s["wv"]),
        F.lit(0.0), lambda a, v: a + v).alias("wsum"))
    raw = w.crossJoin(F.broadcast(ws)).select(
        "source", "nt", "loss_micro", "excess_micro",
        (F.lit(float(_DOREMI_BUDGET)) * F.col("wv") / F.col("wsum"))
        .alias("r"))
    fl = raw.select(
        "source", "nt", "loss_micro", "excess_micro",
        F.floor("r").cast("long").alias("alloc0"),
        F.floor((F.col("r") - F.floor("r")) * 1e6 + 0.5).cast("long")
        .alias("rem_m"))
    res = fl.agg((F.lit(_DOREMI_BUDGET) - F.sum("alloc0"))
                 .alias("residue"))
    wspec = Window.orderBy(F.desc("rem_m"), F.asc("source"))
    rk = fl.crossJoin(F.broadcast(res)).withColumn(
        "rk", F.row_number().over(wspec))
    alloc = F.col("alloc0") + F.when(
        F.col("rk") <= F.col("residue"), 1).otherwise(0)
    return rk.select(
        "source", F.col("nt").alias("n_tokens"), "loss_micro",
        "excess_micro", alloc.cast("long").alias("alloc_tokens"))


def _sql_ilwis() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 29 + gy.i * 3) % 157) * 0.5 - 20.0 AS val
      FROM g gy CROSS JOIN g gx)
SELECT (y // 16)::bigint AS row_band,
       sum(val * (1 + (x * 9 + y) % 7)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY row_band"""


@register("ilwis_roundtrip", _sql_ilwis())
def q_ilwis_roundtrip(spark, sf_dir):
    """ILWIS gate (frmts/ilwis/ilwisdataset.cpp): a float store through
    the INI-style .mpr ODF (Ilwis/BaseMap/Map/MapStore key chain, Size
    = 'rows cols', the five store-type names of GetStoreType) and the
    row-major top-down .mp# payload; half-integers are float32-exact."""
    import tempfile

    from gdal_spark.sources import ilwis as ILW

    path = tempfile.mkdtemp(prefix="gdalspark_ilwis_gate_") + "/m.mpr"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 29 + F.col("gy") * 3) % 157).cast("double")
        * 0.5 - 20.0,
    )
    ILW.write_ilwis(cells, path, w, w, dtype="f4", block_rows=32)
    back = ILW.read_ilwis(spark, path, block_rows=32)
    return back.groupBy(
        (F.col("gy") / 16).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val") * (1 + (F.col("gx") * 9 + F.col("gy")) % 7))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_gxf() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 41 + gy.i * 19) % 227) * 0.125 AS val
      FROM g gy CROSS JOIN g gx
      WHERE (gx.i * 2 + gy.i * 5) % 9 <> 0)
SELECT (x // 16)::bigint AS col_band,
       sum(val * (1 + (x + y * 13) % 21)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY col_band"""


@register("gxf_roundtrip", _sql_gxf())
def q_gxf_roundtrip(spark, sf_dir):
    """GXF gate (frmts/gxf/gxfopen.c; Geosoft GXF Rev 3): an
    uncompressed grid through the #-titled keyword records and sense-1
    scanlines (lower-left origin, SOUTH row first — gxfopen.c:212) with
    #DUMMY holes dropped on read.  The engine's fixed-width one-line-
    per-scanline layout keeps both sink and scan splittable; eighth-
    integers roundtrip %.12g text exactly."""
    import tempfile

    from gdal_spark.sources import gxf as GXF

    path = tempfile.mkdtemp(prefix="gdalspark_gxf_gate_") + "/g.gxf"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 41 + F.col("gy") * 19) % 227).cast("double")
        * 0.125,
    ).filter((F.col("gx") * 2 + F.col("gy") * 5) % 9 != 0)
    GXF.write_gxf(cells, path, w, w)
    back = GXF.read_gxf(spark, path, block_rows=32)
    return back.groupBy(
        (F.col("gx") / 16).cast("long").alias("col_band")
    ).agg(
        F.sum(F.col("val") * (1 + (F.col("gx") + F.col("gy") * 13) % 21))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_leveller() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 3 + gy.i * 37) % 211) * 0.25 + 100.0 AS val
      FROM g gy CROSS JOIN g gx)
SELECT (y // 16)::bigint AS row_band,
       sum(val * (1 + (x * 13 + y * 5) % 29)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY row_band"""


@register("leveller_roundtrip", _sql_leveller())
def q_leveller_roundtrip(spark, sf_dir):
    """Leveller TER v7 gate (frmts/leveller/levellerdataset.cpp): a
    heightfield through the trrn tag chain — u8-length descriptors,
    u32 data lengths, hf_w/hf_b sizes, coordsys_em_scale/_base
    elevation scaling (raw·0.5 + 100, both exact in float32), and the
    top-down float32 hf_data payload read as row-block slabs."""
    import tempfile

    from gdal_spark.sources import leveller as LEV

    path = tempfile.mkdtemp(prefix="gdalspark_lev_gate_") + "/t.ter"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 3 + F.col("gy") * 37) % 211).cast("double")
        * 0.25 + 100.0,
    )
    LEV.write_leveller(cells, path, w, w, em_scale=0.5, em_base=100.0,
                       block_rows=32)
    back = LEV.read_leveller(spark, path, block_rows=32)
    return back.groupBy(
        (F.col("gy") / 16).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val")
              * (1 + (F.col("gx") * 13 + F.col("gy") * 5) % 29))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# UniMax language sampling (Chung et al. 2022, public): allocate a token
# budget across languages by ascending size — each language receives
# min(cap·n_i, floor(budget_left / languages_left)) — so low-resource
# languages are capped at N epochs and the surplus flows to larger ones.
# Complements corpus_temperature_mix (power-law weights) and
# corpus_doremi_weights (loss-driven): this is the epoch-capped budget rule.
# ---------------------------------------------------------------------------

_UNIMAX_BUDGET = 2_000_000
_UNIMAX_EPOCH_CAP = 3


def _sql_unimax() -> str:
    b, cap = _UNIMAX_BUDGET, _UNIMAX_EPOCH_CAP
    return f"""WITH RECURSIVE nt AS (
  SELECT lang, sum(len(string_split_regex(trim(text), ' +')))::bigint
           AS n_tokens
  FROM documents GROUP BY lang),
ord AS (SELECT lang, n_tokens,
               row_number() OVER (ORDER BY n_tokens, lang) AS i,
               (SELECT count(*) FROM nt) AS k
        FROM nt),
alloc AS (
  SELECT 0::bigint AS i, {b}::bigint AS b_rem,
         CAST(NULL AS VARCHAR) AS lang, 0::bigint AS n_tokens,
         0::bigint AS a, 0::bigint AS k
  UNION ALL
  SELECT o.i, al.b_rem - least({cap} * o.n_tokens,
                               ((al.b_rem - (al.b_rem % (o.k - o.i + 1)))
                                / (o.k - o.i + 1))::bigint),
         o.lang, o.n_tokens,
         least({cap} * o.n_tokens,
               ((al.b_rem - (al.b_rem % (o.k - o.i + 1)))
                / (o.k - o.i + 1))::bigint),
         o.k
  FROM alloc al JOIN ord o ON o.i = al.i + 1)
SELECT lang, n_tokens, a AS alloc_tokens,
       ((a * 1000000 - (a * 1000000) % n_tokens) / n_tokens)::bigint
         AS epochs_micro
FROM alloc WHERE i > 0"""


@register("corpus_unimax_alloc", _sql_unimax())
def q_corpus_unimax_alloc(spark, sf_dir):
    """UniMax budget allocation gate: per-language token counts (one
    corpus aggregate), then the ascending-size greedy — languages are
    bounded, so the sequential rule runs on the collected lang table
    (the kmeans-Lloyd bounded-state pattern) while the oracle replays
    it as a recursive CTE.  All arithmetic is exact integer floor
    division; epochs are reported in micro units."""
    docs = _read(spark, sf_dir, "documents")
    nt = docs.select(
        "lang",
        F.size(F.split(F.trim("text"), " +")).alias("ntok"),
    ).groupBy("lang").agg(F.sum("ntok").cast("long").alias("n_tokens"))
    rows = sorted((r["n_tokens"], r["lang"]) for r in nt.collect())
    b_rem = _UNIMAX_BUDGET
    out = []
    k = len(rows)
    for idx, (n, lang) in enumerate(rows):
        share = b_rem // (k - idx)
        a = min(_UNIMAX_EPOCH_CAP * n, share)
        b_rem -= a
        out.append((lang, n, a, (a * 1000000) // n))
    return docs.sparkSession.createDataFrame(
        out, "lang string, n_tokens long, alloc_tokens long, "
             "epochs_micro long")


def _sql_ctg() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
b AS (SELECT unnest(generate_series(0, 5)) AS band),
v AS (SELECT band, gy.i AS y, gx.i AS x,
             ((gx.i * 7 + gy.i * 11 + band * 13) % 97)::bigint AS val
      FROM b CROSS JOIN g gy CROSS JOIN g gx)
SELECT band, (y // 24)::bigint AS row_band,
       sum(val * (1 + (x + y * 3) % 9))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY band, row_band"""


@register("ctg_roundtrip", _sql_ctg())
def q_ctg_roundtrip(spark, sf_dir):
    """CTG gate (frmts/ctg/ctgdataset.cpp; USGS LULC Composite Theme
    Grid): a 6-theme grid through the 80-byte terminator-free records —
    5-record header (sizes/cell/zone, 1-based index bounds, NW corner),
    then one self-positioned record per cell (zone + cell-center
    coordinates + six 10-wide values).  The self-describing records
    make the file order-free and fixed-stride, so both directions are
    record-range slab IO; the digest spans all six themes."""
    import tempfile

    from gdal_spark.sources import ctg as CTG

    path = tempfile.mkdtemp(prefix="gdalspark_ctg_gate_") + "/grid_cell"
    w = _ENVI_W
    cells = spark.range(6 * w * w).select(
        (F.col("id") / (w * w)).cast("long").alias("band"),
        ((F.col("id") % (w * w)) / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 7 + F.col("gy") * 11 + F.col("band") * 13) % 97)
        .cast("long"),
    )
    CTG.write_ctg(cells, path, w, w, cell=200, zone=15,
                  block_cells=1024)
    back = CTG.read_ctg(spark, path, block_cells=1024)
    return back.groupBy(
        "band", (F.col("gy") / 24).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val") * (1 + (F.col("gx") + F.col("gy") * 3) % 9))
        .cast("long").alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_mrf() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 5 + gy.i * 9) % 251)::bigint AS val
      FROM g gy CROSS JOIN g gx)
SELECT (y // 16)::bigint AS row_band,
       sum(val * (1 + (x * 3 + y * 7) % 15))::bigint AS digest,
       count(*)::bigint AS n
FROM v GROUP BY row_band"""


@register("mrf_png_roundtrip", _sql_mrf())
def q_mrf_png_roundtrip(spark, sf_dir):
    """MRF gate (frmts/mrf/; NASA GIBS Meta Raster Format): a gray8
    raster through the XML + 16-byte big-endian index + concatenated
    PNG-page triplet — pages ordered x-fastest (IdxOffset,
    mrf_util.cpp:327), empty pages as all-zero records.  The sink is
    the two-pass lengths-only variable-length pattern over the repo's
    from-scratch PNG codec; the scan decodes one page per task off the
    driver-parsed index."""
    import tempfile

    from gdal_spark.sources import mrf as MRF

    path = tempfile.mkdtemp(prefix="gdalspark_mrf_gate_") + "/t.mrf"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 5 + F.col("gy") * 9) % 251).cast("long"),
    )
    MRF.write_mrf(cells, path, w, w, page=32)
    back = MRF.read_mrf(spark, path)
    return back.groupBy(
        (F.col("gy") / 16).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val")
              * (1 + (F.col("gx") * 3 + F.col("gy") * 7) % 15))
        .cast("long").alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


def _sql_gs7bg() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 23 + gy.i * 41) % 307) * 0.125 - 11.0 AS val
      FROM g gy CROSS JOIN g gx
      WHERE (gx.i + gy.i * 3) % 8 <> 0)
SELECT (y // 16)::bigint AS row_band,
       sum(val * (1 + (x * 7 + y * 11) % 25)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY row_band"""


@register("surfer7_roundtrip", _sql_gs7bg())
def q_surfer7_roundtrip(spark, sf_dir):
    """Surfer 7 (GS7BG) gate (frmts/gsg/gs7bgdataset.cpp): the
    tagged-section sibling of DSBB — DSRB header + version section,
    unknown-section skip-by-size walk, the 72-byte GRID info block
    (rows first, doubles for extent/spacing/blank), then the DATA
    section's float64 bottom-up payload with blank holes dropped on
    read.  Completes the Surfer family (DSAA ASCII, DSBB 6-binary,
    GS7BG 7-binary)."""
    import tempfile

    from gdal_spark.sources import surfer as SRF

    path = tempfile.mkdtemp(prefix="gdalspark_gs7_gate_") + "/grid.grd"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 23 + F.col("gy") * 41) % 307).cast("double")
        * 0.125 - 11.0,
    ).filter((F.col("gx") + F.col("gy") * 3) % 8 != 0)
    SRF.write_gs7bg(cells, path, w, w, xlo=-5.0, ylo=30.0, cell=0.25,
                    block_rows=32)
    back = SRF.read_gs7bg(spark, path, block_rows=32)
    return back.groupBy(
        (F.col("gy") / 16).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val")
              * (1 + (F.col("gx") * 7 + F.col("gy") * 11) % 25))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank-fusion hybrid retrieval (Cormack et al. 2009, public):
# fuse the BM25 lexical channel with an independent quality-prior channel
# by RRF = Σ 1/(60 + rank_c), the standard hybrid-search combiner.  Ranks
# and the 1/(60+r) terms are integer-quantized (floor(1e6/(60+r))) so the
# fusion is exact; both channels are bounded top-50 lists, so every
# post-retrieval step is dimension-sized.
# ---------------------------------------------------------------------------

def _sql_rrf() -> str:
    bm25 = T.sql_bm25_topk("documents", _BM25_TERMS, top_k=50)
    return f"""WITH bm AS ({bm25}),
r1 AS (SELECT doc_id,
              row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rk
       FROM bm),
q2 AS (SELECT doc_id, (n_chars * 13) % 997 AS qscore FROM documents
       ORDER BY qscore DESC, doc_id LIMIT 50),
r2 AS (SELECT doc_id,
              row_number() OVER (ORDER BY qscore DESC, doc_id) AS rk
       FROM q2),
fused AS (
  SELECT coalesce(r1.doc_id, r2.doc_id) AS doc_id,
         (CASE WHEN r1.rk IS NULL THEN 0
               ELSE ((1000000 - 1000000 % (60 + r1.rk)) / (60 + r1.rk))::bigint
          END +
          CASE WHEN r2.rk IS NULL THEN 0
               ELSE ((1000000 - 1000000 % (60 + r2.rk)) / (60 + r2.rk))::bigint
          END) AS rrf_micro,
         r1.rk AS bm25_rank, r2.rk AS quality_rank
  FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id)
SELECT doc_id, rrf_micro, bm25_rank, quality_rank
FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT 20"""


@register("text_rrf_hybrid", _sql_rrf())
def q_text_rrf_hybrid(spark, sf_dir):
    """Hybrid-retrieval RRF gate: BM25 top-50 (the lexical channel,
    bounded TakeOrdered) fused with a quality-prior top-50 by
    reciprocal-rank fusion, floor(1e6/(60+rank)) integer terms summed
    over a full outer join of the two dimension-sized lists, fused
    top-20 out.  Windows run over the 50-row lists only — the corpus
    is touched exactly twice (once per channel)."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    bm = T.bm25_topk(docs, _BM25_TERMS, top_k=50)
    w1 = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    r1 = bm.withColumn("rk", F.row_number().over(w1)) \
        .select("doc_id", F.col("rk").alias("rk1"))
    q2 = docs.select(
        "doc_id", ((F.col("n_chars") * 13) % 997).alias("qscore")
    ).orderBy(F.desc("qscore"), F.asc("doc_id")).limit(50)
    w2 = Window.orderBy(F.desc("qscore"), F.asc("doc_id"))
    r2 = q2.withColumn("rk", F.row_number().over(w2)) \
        .select("doc_id", F.col("rk").alias("rk2"))

    def rterm(rk):
        d = 60 + rk
        return ((F.lit(1000000) - F.pmod(F.lit(1000000), d)) / d) \
            .cast("long")

    fused = r1.join(r2, "doc_id", "full_outer").select(
        "doc_id",
        (F.when(F.col("rk1").isNull(), 0).otherwise(rterm(F.col("rk1")))
         + F.when(F.col("rk2").isNull(), 0)
         .otherwise(rterm(F.col("rk2")))).alias("rrf_micro"),
        F.col("rk1").alias("bm25_rank"),
        F.col("rk2").alias("quality_rank"),
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(20)


def _sql_nwtgrd() -> str:
    return f"""WITH g AS (SELECT unnest(generate_series(0, {_ENVI_W - 1})) AS i),
v AS (SELECT gy.i AS y, gx.i AS x,
             ((gx.i * 29 + gy.i * 43) % 65521) * 0.125 AS val
      FROM g gy CROSS JOIN g gx
      WHERE (gx.i * 7 + gy.i) % 12 <> 0)
SELECT (y // 16)::bigint AS row_band,
       sum(val * (1 + (x * 11 + y * 3) % 27)) AS digest,
       count(*)::bigint AS n
FROM v GROUP BY row_band"""


@register("nwtgrd_roundtrip", _sql_nwtgrd())
def q_nwtgrd_roundtrip(spark, sf_dir):
    """Northwood/Vertical Mapper GRD gate (frmts/northwood/
    grddataset.cpp): a grid through the 1024-byte HGPC1 header and the
    format's 16-bit quantization — raw 0 is the null marker (punched
    holes roundtrip as absent), value = zMin + (raw−1)·(zMax−zMin)/65534.
    The gate pins zmax = 65534·0.125 so the step is exactly 0.125 and
    eighth-integer values survive the uint16 quantization bit-exactly."""
    import tempfile

    from gdal_spark.sources import nwtgrd as NWT

    path = tempfile.mkdtemp(prefix="gdalspark_nwt_gate_") + "/t.grd"
    w = _ENVI_W
    cells = spark.range(w * w).select(
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
    ).withColumn(
        "val",
        ((F.col("gx") * 29 + F.col("gy") * 43) % 65521).cast("double")
        * 0.125,
    ).filter((F.col("gx") * 7 + F.col("gy")) % 12 != 0)
    NWT.write_nwtgrd(cells, path, w, w, zmin=0.0, zmax=65534 * 0.125,
                     block_rows=32)
    back = NWT.read_nwtgrd(spark, path, block_rows=32)
    return back.groupBy(
        (F.col("gy") / 16).cast("long").alias("row_band")
    ).agg(
        F.sum(F.col("val")
              * (1 + (F.col("gx") * 11 + F.col("gy") * 3) % 27))
        .alias("digest"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Mann–Kendall trend test over the event stream's daily volumes (the
# monotone-drift monitor a continuously-ingesting corpus pipeline runs):
# S = Σ_{i<j} sgn(c_j − c_i) over the time-ordered daily counts, with the
# normalized Kendall tau in micro units.  One corpus aggregate shrinks the
# stream to the day-bounded series; the quadratic pair sum runs over that
# bounded table only (30 days → 435 pairs), never the stream.
# ---------------------------------------------------------------------------

def _sql_mann_kendall() -> str:
    return """WITH d AS (
  SELECT date_trunc('day', ts) AS day, count(*)::bigint AS c
  FROM events GROUP BY day),
p AS (SELECT CASE WHEN b.c > a.c THEN 1
                  WHEN b.c < a.c THEN -1 ELSE 0 END AS sgn
      FROM d a JOIN d b ON a.day < b.day),
s AS (SELECT sum(sgn)::bigint AS s_stat, count(*)::bigint AS n_pairs
      FROM p),
n AS (SELECT count(*)::bigint AS n_days FROM d)
SELECT s_stat, n_pairs, n_days,
       ((s_stat * 1000000
         - ((s_stat * 1000000 % n_pairs + n_pairs) % n_pairs))
        / n_pairs)::bigint AS tau_micro
FROM s, n"""


@register("events_mann_kendall", _sql_mann_kendall())
def q_events_mann_kendall(spark, sf_dir):
    """Mann–Kendall gate: daily event volumes (one stream aggregate,
    day-bounded output), S over all time-ordered pairs via a self-join
    of the BOUNDED day table (broadcast — never the stream), Kendall
    tau floor-quantized to micro units with the exact pmod division."""
    ev = _read(spark, sf_dir, "events")
    d = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    a = d.select(F.col("day").alias("day_a"), F.col("c").alias("ca"))
    b = d.select(F.col("day").alias("day_b"), F.col("c").alias("cb"))
    pairs = a.join(F.broadcast(b), F.col("day_a") < F.col("day_b"))
    s = pairs.agg(
        F.sum(F.when(F.col("cb") > F.col("ca"), 1)
              .when(F.col("cb") < F.col("ca"), -1).otherwise(0))
        .cast("long").alias("s_stat"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    num = F.col("s_stat") * 1000000
    den = F.col("n_pairs")
    return s.crossJoin(F.broadcast(n)).select(
        "s_stat", "n_pairs", "n_days",
        ((num - F.pmod(num, den)) / den).cast("long").alias("tau_micro"),
    )


# ---------------------------------------------------------------------------
# Source-vocabulary Jaccard matrix (the corpus-composition diagnostic:
# which sources share a lexicon — near-duplicate FEEDS show up as
# high-Jaccard pairs before any document-level dedup runs).  Per-source
# top-K vocabularies via a per-source window (partitioned — never a
# single-partition window), then the pair matrix over the K-bounded sets.
# ---------------------------------------------------------------------------

def _sql_vocab_jaccard() -> str:
    return """WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(text), ' +')) AS tok
  FROM documents),
cnt AS (SELECT source, tok, count(*)::bigint AS n
        FROM toks GROUP BY source, tok),
rk AS (SELECT source, tok,
              row_number() OVER (PARTITION BY source
                                 ORDER BY n DESC, tok) AS r
       FROM cnt),
top AS (SELECT source, tok FROM rk WHERE r <= 100),
sz AS (SELECT source, count(*)::bigint AS k FROM top GROUP BY source),
inter AS (SELECT a.source AS src_a, b.source AS src_b,
                 count(*)::bigint AS n_inter
          FROM top a JOIN top b
            ON a.tok = b.tok AND a.source < b.source
          GROUP BY a.source, b.source)
SELECT i.src_a, i.src_b, i.n_inter,
       ((i.n_inter * 1000000
         - (i.n_inter * 1000000) % (sa.k + sb.k - i.n_inter))
        / (sa.k + sb.k - i.n_inter))::bigint AS jaccard_micro
FROM inter i
JOIN sz sa ON sa.source = i.src_a
JOIN sz sb ON sb.source = i.src_b"""


@register("source_vocab_jaccard", _sql_vocab_jaccard())
def q_source_vocab_jaccard(spark, sf_dir):
    """Source-vocabulary Jaccard gate: per-source top-100 tokens by
    (count DESC, tok) — the window is PARTITIONED by source, so no
    single-partition shuffle — then intersection counts over the
    100-bounded sets (an equi-join on tok, source-pair grouped) and
    exact floor-quantized Jaccard over |A|+|B|−|A∩B|."""
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    cnt = docs.select(
        "source",
        F.explode(F.split(F.trim("text"), " +")).alias("tok"),
    ).groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("tok"))
    top = cnt.withColumn("r", F.row_number().over(w)) \
        .filter(F.col("r") <= 100).select("source", "tok")
    sz = top.groupBy("source").agg(F.count(F.lit(1)).cast("long")
                                   .alias("k"))
    a = top.select(F.col("source").alias("src_a"), "tok")
    b = top.select(F.col("source").alias("src_b"), "tok")
    inter = a.join(b, "tok").filter(F.col("src_a") < F.col("src_b")) \
        .groupBy("src_a", "src_b") \
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    out = inter \
        .join(F.broadcast(sz.withColumnRenamed("source", "src_a")
                          .withColumnRenamed("k", "ka")), "src_a") \
        .join(F.broadcast(sz.withColumnRenamed("source", "src_b")
                          .withColumnRenamed("k", "kb")), "src_b")
    num = F.col("n_inter") * 1000000
    den = F.col("ka") + F.col("kb") - F.col("n_inter")
    return out.select(
        "src_a", "src_b", "n_inter",
        ((num - F.pmod(num, den)) / den).cast("long")
        .alias("jaccard_micro"),
    )


# ---------------------------------------------------------------------------
# Per-label embedding-centroid alignment (the embedding-space drift /
# class-separation diagnostic): cosine between each label's centroid and
# the global centroid, with components kilo-quantized at the source so
# every sum/product stays exact in int64 — the only float ops are the two
# final square roots and one division, identical on both engines.
# ---------------------------------------------------------------------------

def _sql_centroid_cos() -> str:
    return f"""WITH dims AS (SELECT unnest(generate_series(0, 63)) AS d),
lf AS (SELECT e.label, dims.d,
              floor(e.embedding[dims.d + 1]::double * 1024)::bigint AS q
       FROM embeddings e CROSS JOIN dims),
per AS (SELECT label, d, sum(q)::bigint AS sl FROM lf GROUP BY label, d),
gctr AS (SELECT d, sum(sl)::bigint AS sg FROM per GROUP BY d),
gn AS (SELECT sum(sg * sg)::bigint AS n2g FROM gctr),
dot AS (SELECT per.label,
               sum(per.sl * gctr.sg)::bigint AS dp,
               sum(per.sl * per.sl)::bigint AS n2l
        FROM per JOIN gctr ON per.d = gctr.d
        GROUP BY per.label),
nv AS (SELECT label, count(*)::bigint AS n_vecs
       FROM embeddings GROUP BY label)
SELECT dot.label, nv.n_vecs, dot.dp AS dot_q,
       {SR('dot.dp::double / (sqrt(dot.n2l::double) * sqrt(gn.n2g::double))', 6)}
         AS cos_global
FROM dot JOIN nv ON nv.label = dot.label, gn"""


@register("embed_label_centroid_cos", _sql_centroid_cos())
def q_embed_label_centroid_cos(spark, sf_dir):
    """Embedding centroid-alignment gate: per-label and global centroid
    SUMS with kilo-quantized components (floor(e·1024) at the source —
    every downstream sum and product fits int64 exactly at fixture
    scale), cosine = dot/(‖a‖‖b‖) evaluated from identical longs in one
    float expression.  Dimension-bounded after the one corpus
    aggregate."""
    emb = _read(spark, sf_dir, "embeddings")
    lf = emb.select(
        "label", F.posexplode("embedding").alias("d", "v"),
    ).select(
        "label", "d",
        F.floor(F.col("v").cast("double") * 1024).cast("long").alias("q"))
    per = lf.groupBy("label", "d").agg(
        F.sum("q").cast("long").alias("sl"))
    glob = per.groupBy("d").agg(F.sum("sl").cast("long").alias("sg"))
    gn = glob.agg(F.sum(F.col("sg") * F.col("sg")).cast("long")
                  .alias("n2g"))
    dot = per.join(F.broadcast(glob), "d").groupBy("label").agg(
        F.sum(F.col("sl") * F.col("sg")).cast("long").alias("dp"),
        F.sum(F.col("sl") * F.col("sl")).cast("long").alias("n2l"))
    nv = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long")
                                  .alias("n_vecs"))
    return dot.join(nv, "label").crossJoin(F.broadcast(gn)).select(
        "label", "n_vecs", F.col("dp").alias("dot_q"),
        R(F.col("dp").cast("double")
          / (F.sqrt(F.col("n2l").cast("double"))
             * F.sqrt(F.col("n2g").cast("double"))), 6).alias("cos_global"),
    )


def _sql_dup_rate() -> str:
    return """WITH h AS (
  SELECT source, md5(text) AS sig FROM documents),
g AS (SELECT source, sig, count(*)::bigint AS n
      FROM h GROUP BY source, sig),
s AS (SELECT source,
             sum(n)::bigint AS n_docs,
             count(*)::bigint AS n_distinct,
             sum(n - 1)::bigint AS n_dups
      FROM g GROUP BY source)
SELECT source, n_docs, n_distinct, n_dups,
       ((n_dups * 1000000 - (n_dups * 1000000) % n_docs)
        / n_docs)::bigint AS dup_rate_micro
FROM s"""


@register("dedup_rate_by_source", _sql_dup_rate())
def q_dedup_rate_by_source(spark, sf_dir):
    """Per-source exact-duplicate rate (the triage report run BEFORE
    committing to a dedup pass — which feeds need it): md5 content
    signatures (JVM-side, the same digest both engines), one
    (source, sig) aggregate, duplicate count = Σ(n−1) per source,
    rate floor-quantized to micro units."""
    docs = _read(spark, sf_dir, "documents")
    g = docs.select("source", F.md5("text").alias("sig")) \
        .groupBy("source", "sig") \
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    s = g.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("n") - 1).cast("long").alias("n_dups"),
    )
    num = F.col("n_dups") * 1000000
    den = F.col("n_docs")
    return s.select(
        "source", "n_docs", "n_distinct", "n_dups",
        ((num - F.pmod(num, den)) / den).cast("long")
        .alias("dup_rate_micro"),
    )
