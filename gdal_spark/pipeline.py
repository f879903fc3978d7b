"""Public dataflow API — the `gdal vector pipeline` step set as
DataFrame→DataFrame functions (apps/gdalalg_vector_pipeline.cpp:142-219).

Each reference step maps to one function here; a pipeline is ordinary
function composition over DataFrames (Spark's lazy plan IS the GDALG
serialized-pipeline analog, frmts/gdalg/gdalgdriver.cpp). Steps that are
pure Catalyst re-exports are thin on purpose — the point is a 1:1 surface a
reference user can port scripts against.

Step mapping (reference step → function):
  read            → read_parquet (spark.read)
  write           → write_parquet (df.write)
  partition       → write_partitioned (hive layout, gdalalg_vector_partition.cpp:94-99)
  filter          → filter_expr (SetAttributeFilter)
  select          → select_fields (SetIgnoredFields / SELECT list)
  sql             → execute_sql (ExecuteSQL, OGR→Spark dialect)
  sort            → sort_by / sort_spatial (gdalalg_vector_sort.cpp; spatial = quadkey curve)
  limit           → limit_rows
  reproject       → reproject_3857 / reproject_4326 (OGRWarpedLayer; closed-form Mercator)
  swap-xy         → swap_xy
  make-point      → make_point (lon/lat cols → WKB point column)
  explode-collections → explode_collections (multipolygon rows → polygon rows)
  segmentize      → segmentize (max-length vertex insertion, OGRGeometry::segmentize)
  simplify        → simplify (Douglas-Peucker over ring arrays)
  concat          → concat_layers (OGRUnionLayer / unionByName)
  tee/materialize → materialize (cache)
  filter (bbox)   → filter_bbox (SetSpatialFilter envelope stage)
  clip            → clip (S–H bbox clip, gdalalg_vector_clip.cpp)
  buffer          → buffer (round-join convex offset, OGRGeometry::Buffer)
  make-valid      → make_valid (structure pass, OGRGeometry::MakeValid)
  convex-hull     → convex_hull (monotone chain, OGRGeometry::ConvexHull)
  check-geometry  → check_geometry (closure/orientation/self-intersection)
  check-coverage  → check_coverage (pairwise interior-disjointness)
  combine         → combine (rows → one multipolygon per key)
  update          → update (upsert by key)
  edit            → edit_fields (column = SQL expr)
  set-field-type  → set_field_type (cast)
  set-geom-type   → set_geom_type
  rename-layer    → rename_layer (temp-view catalog)
  create          → create_layer (empty layer from schema)
  export-schema   → export_schema (schema JSON)
  info            → info (count/fields/extent)
  (remaining registry gaps: concave-hull, clean-/simplify-coverage — need
  alpha shapes / shared-boundary noding, documented non-goals this round)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.spatial import geometry as G
from gdal_spark.spatial import tilemath as TM


# -- sources / sinks --------------------------------------------------------

def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def write_partitioned(df: DataFrame, path: str, *cols: str,
                      mode: str = "overwrite") -> None:
    """Hive-style partitioned output (`gdal vector partition`,
    gdalalg_vector_partition.cpp:94-99) — partition pruning on read."""
    df.write.mode(mode).partitionBy(*cols).parquet(path)


# -- row-level steps --------------------------------------------------------

def filter_expr(df: DataFrame, where: str) -> DataFrame:
    """SetAttributeFilter: full SQL WHERE grammar (ogrlayer.cpp:752)."""
    return df.filter(F.expr(where))


def filter_bbox(df: DataFrame, xmin: float, ymin: float, xmax: float,
                ymax: float, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """SetSpatialFilter envelope stage (ogrlayer.cpp:4005-4032) — a pure
    column predicate Catalyst pushes to the scan."""
    return df.filter(
        (F.col(lon) >= xmin) & (F.col(lon) <= xmax)
        & (F.col(lat) >= ymin) & (F.col(lat) <= ymax)
    )


def select_fields(df: DataFrame, *cols: str) -> DataFrame:
    return df.select(*cols)


def execute_sql(spark: SparkSession, sql: str, **tables: DataFrame) -> DataFrame:
    """ExecuteSQL analog (gcore/gdaldataset.cpp:7400): register layers as
    temp views, run the statement through Catalyst (our 'dialect')."""
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return spark.sql(sql)


def sort_by(df: DataFrame, *cols: str, desc: bool = False) -> DataFrame:
    order = [F.col(c).desc() if desc else F.col(c).asc() for c in cols]
    return df.orderBy(*order)


def sort_spatial(df: DataFrame, zoom: int = 12, lon: str = "lon",
                 lat: str = "lat") -> DataFrame:
    """`gdal vector sort` by space-filling curve (gdalalg_vector_sort.cpp:371
    hilbert; our curve is the quadkey) — range-partitioned so output files
    are spatially local. Sorts on the quadkey's nibble words (one ``long``
    per 16 levels, in the string's order) and never renders the string."""
    tx, ty = TM.lonlat_to_tile(F.col(lon), F.col(lat), zoom)
    words = [w for w, _ in TM._nibble_words(tx, ty, zoom)]
    keys = [f"_qk{i}" for i in range(len(words))]
    keyed = df.select("*", *(w.alias(k) for w, k in zip(words, keys)))
    return keyed.repartitionByRange(*keys).sortWithinPartitions(*keys).drop(*keys)


def limit_rows(df: DataFrame, n: int, offset: int = 0) -> DataFrame:
    return df.offset(offset).limit(n) if offset else df.limit(n)


def materialize(df: DataFrame) -> DataFrame:
    """tee/materialize step → cache() (the block-cache analog)."""
    return df.cache()


def concat_layers(*dfs: DataFrame) -> DataFrame:
    """OGRUnionLayer / `gdal vector concat`: schema-merging union."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


# -- coordinate steps -------------------------------------------------------

def reproject_3857(df: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """OGRWarpedLayer with EPSG:4326→3857 (closed-form, gdal2tiles math)."""
    mx, my = TM.lonlat_to_meters(F.col(lon), F.col(lat))
    return df.withColumn("mx", mx).withColumn("my", my)


def reproject_4326(df: DataFrame, mx: str = "mx", my: str = "my") -> DataFrame:
    lon, lat = TM.meters_to_lonlat(F.col(mx), F.col(my))
    return df.withColumn("lon", lon).withColumn("lat", lat)


def swap_xy(df: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """`gdal vector swap-xy` — exchange coordinate columns."""
    return df.withColumn("_t", F.col(lon)).withColumn(lon, F.col(lat)) \
             .withColumn(lat, F.col("_t")).drop("_t")


def make_point(df: DataFrame, lon: str = "lon", lat: str = "lat",
               out: str = "wkb") -> DataFrame:
    """`gdal vector make-point`: lon/lat → WKB point binary column
    (little-endian ISO WKB, the ogc.wkb convention)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out] = [
                G.wkb_point(float(x), float(y))
                for x, y in zip(pdf[lon], pdf[lat])
            ]
            yield pdf

    from pyspark.sql.types import BinaryType, StructField, StructType

    schema = StructType(list(df.schema.fields) + [StructField(out, BinaryType())])
    return df.mapInPandas(gen, schema)


# -- geometry steps (ring-array representation) -----------------------------

def explode_collections(df: DataFrame, wkb: str = "wkb") -> DataFrame:
    """`gdal vector explode-collections`: multipolygon WKB rows → one row
    per member polygon (poly_idx added)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = {c: [] for c in pdf.columns}
            out_rows["poly_idx"] = []
            for _, row in pdf.iterrows():
                kind, payload = G.parse_wkb(bytes(row[wkb]))
                polys = payload if kind == "multipolygon" else [payload]
                if kind == "point":
                    polys = [payload]
                for i, rings in enumerate(polys):
                    for c in pdf.columns:
                        if c == wkb and kind == "multipolygon":
                            out_rows[c].append(bytearray(G.wkb_polygon(rings)))
                        else:
                            out_rows[c].append(row[c])
                    out_rows["poly_idx"].append(i)
            yield pd.DataFrame(out_rows)

    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(list(df.schema.fields) + [StructField("poly_idx", IntegerType())])
    return df.mapInPandas(run, schema)


def _segmentize_ring(ring: np.ndarray, max_len: float) -> np.ndarray:
    """Insert vertices so no segment exceeds max_len
    (OGRSimpleCurve::segmentize semantics: equal subdivisions per segment)."""
    out = [ring[0]]
    for i in range(1, ring.shape[0]):
        a, b = ring[i - 1], ring[i]
        seg = np.hypot(*(b - a))
        n = max(int(np.ceil(seg / max_len)), 1)
        for j in range(1, n + 1):
            out.append(a + (b - a) * (j / n))
    return np.asarray(out)


def _dp_simplify(ring: np.ndarray, tol: float) -> np.ndarray:
    """Douglas-Peucker over one ring (reference Simplify delegates to GEOS
    DouglasPeuckerSimplifier — ogrgeometry.cpp:6771; re-derived here)."""
    pts = ring
    keep = np.zeros(pts.shape[0], dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, pts.shape[0] - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        a, b = pts[lo], pts[hi]
        ab = b - a
        denom = np.hypot(*ab)
        rel = pts[lo + 1:hi] - a
        if denom == 0:
            d = np.hypot(rel[:, 0], rel[:, 1])
        else:
            # 2-D cross product by hand (numpy 2.x dropped cross() for 2-D)
            d = np.abs(ab[0] * rel[:, 1] - ab[1] * rel[:, 0]) / denom
        imax = int(np.argmax(d))
        if d[imax] > tol:
            k = lo + 1 + imax
            keep[k] = True
            stack.append((lo, k))
            stack.append((k, hi))
    return pts[keep]


def _rings_map(df: DataFrame, fn, rings_col: str = "rings") -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            new_vals = [
                [fn(r).tolist() for r in G.rings_to_numpy(rings)]
                for rings in pdf[rings_col]
            ]
            # explicit object Series: bare list assignment trips pandas'
            # sequence broadcasting on single-row batches
            pdf[rings_col] = pd.Series(new_vals, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(run, df.schema)


def segmentize(df: DataFrame, max_len: float, rings_col: str = "rings") -> DataFrame:
    """`gdal vector segmentize` over ring-array geometry."""
    return _rings_map(df, lambda r: _segmentize_ring(r, max_len), rings_col)


def simplify(df: DataFrame, tolerance: float, rings_col: str = "rings") -> DataFrame:
    """`gdal vector simplify` (Douglas-Peucker) over ring-array geometry."""
    return _rings_map(df, lambda r: _dp_simplify(r, tolerance), rings_col)


# -- round-2 steps: clip / buffer / make-valid / convex-hull / checks -------
# (closing the apps/gdalalg_vector_pipeline.cpp:142-219 registry gap)

def clip(df: DataFrame, xmin: float, ymin: float, xmax: float, ymax: float,
         rings_col: str = "rings") -> DataFrame:
    """`gdal vector clip` with a bbox clip geometry
    (apps/gdalalg_vector_clip.cpp; OGRLayer::Clip ogrlayer.cpp:7538):
    Sutherland–Hodgman per ring, rows clipped to nothing are dropped."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep, new_rings = [], []
            for i, rings in enumerate(pdf[rings_col]):
                c = G.clip_rings_rect(
                    G.rings_to_numpy(rings), xmin, ymin, xmax, ymax
                )
                if c:
                    keep.append(i)
                    new_rings.append([r.tolist() for r in c])
            out = pdf.iloc[keep].copy()
            out[rings_col] = pd.Series(
                new_rings, index=out.index, dtype=object
            )
            yield out

    return df.mapInPandas(run, df.schema)


def _offset_convex_ring(ring: np.ndarray, d: float, quad_segs: int) -> np.ndarray:
    """Round-join outward offset of a CONVEX CCW ring by d — each edge
    translated along its outward normal, consecutive edges connected by a
    circular arc around the shared vertex discretized like GEOS' buffer
    (quad_segs segments per quarter circle; ogrgeometry.cpp:4942 Buffer →
    GEOS BufferOp). Exact for convex input up to arc discretization."""
    pts = ring[:-1]
    n = pts.shape[0]
    out = []
    for i in range(n):
        a = pts[i]
        b = pts[(i + 1) % n]
        e = b - a
        ln = float(np.hypot(*e))
        if ln == 0:
            continue
        nx, ny = e[1] / ln, -e[0] / ln  # outward normal of a CCW ring
        out.append(a + [nx * d, ny * d])
        out.append(b + [nx * d, ny * d])
        # arc around b from this edge's normal to the next edge's normal
        c = pts[(i + 2) % n]
        e2 = c - b
        ln2 = float(np.hypot(*e2))
        if ln2 == 0:
            continue
        a0 = np.arctan2(ny, nx)
        a1 = np.arctan2(-e2[0] / ln2, e2[1] / ln2)
        while a1 < a0:
            a1 += 2 * np.pi
        steps = max(int(np.ceil((a1 - a0) / (np.pi / 2) * quad_segs)), 1)
        for k in range(1, steps):
            t = a0 + (a1 - a0) * k / steps
            out.append(b + [np.cos(t) * d, np.sin(t) * d])
    out.append(out[0])
    return np.asarray(out)


def buffer(df: DataFrame, distance: float, rings_col: str = "rings",
           quad_segs: int = 8) -> DataFrame:
    """`gdal vector buffer` MVP (ogrgeometry.cpp:4942): round-join offset of
    the exterior ring, exact for convex geometry (holes are dropped —
    a positive buffer of the fixture shapes swallows their holes only when
    d ≥ hole reach; general hole erosion needs full Minkowski machinery)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            vals = [
                [_offset_convex_ring(
                    G.rings_to_numpy(r)[0], distance, quad_segs
                ).tolist()]
                for r in pdf[rings_col]
            ]
            pdf[rings_col] = pd.Series(vals, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(run, df.schema)


def _signed_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def _offset_ring_raw(ring: np.ndarray, d: float, quad_segs: int) -> np.ndarray:
    """RAW round-join offset curve of a closed ring (any orientation).

    Each edge is translated along its right-hand normal (outward for a CCW
    exterior, hole-eroding for a CW hole); at LEFT turns (convex in
    traversal direction) consecutive offset edges are bridged with a
    circular arc (quad_segs segments per quarter circle — the GEOS
    BufferOp discretization ogrgeometry.cpp:4942 delegates to); at RIGHT
    turns (reflex) they are connected directly, deliberately producing the
    local self-crossing loop that the noding + winding extraction in
    :func:`_buffer_polygon` trims away.  The raw curve is therefore the
    exact boundary of {x : dist(x, ring) <= d} up to arc discretization."""
    pts = ring[:-1]
    n = pts.shape[0]
    out: list = []
    for i in range(n):
        a, b, c = pts[i], pts[(i + 1) % n], pts[(i + 2) % n]
        e = b - a
        ln = float(np.hypot(*e))
        if ln == 0.0:
            continue
        nx, ny = e[1] / ln, -e[0] / ln
        out.append(a + [nx * d, ny * d])
        out.append(b + [nx * d, ny * d])
        e2 = c - b
        ln2 = float(np.hypot(*e2))
        if ln2 == 0.0:
            continue
        # ALWAYS bridge with the CCW arc between the two edge normals. At a
        # left (convex) turn this is the short join arc; at a right
        # (reflex) turn the sweep wraps the long way around the vertex,
        # deliberately creating the overlap loop whose winding number rises
        # to 2 — the boundary-probe extraction below discards it and keeps
        # the offset-line intersection corner, which is the exact
        # {dist <= d} boundary.  (A straight connection at reflex vertices
        # would CUT the corner by d²·tan(θ/2) — measurably wrong.)
        a0 = np.arctan2(ny, nx)
        a1 = np.arctan2(-e2[0] / ln2, e2[1] / ln2)
        while a1 < a0:
            a1 += 2.0 * np.pi
        steps = max(int(np.ceil((a1 - a0) / (np.pi / 2) * quad_segs)), 1)
        for k in range(1, steps):
            t = a0 + (a1 - a0) * k / steps
            out.append(b + [np.cos(t) * d, np.sin(t) * d])
    out.append(out[0])
    return np.asarray(out, dtype=np.float64)


def _winding_numbers(px: np.ndarray, py: np.ndarray,
                     curve: np.ndarray) -> np.ndarray:
    """Signed winding number of a closed (possibly self-crossing) curve
    around each (px, py): +1 per CCW loop enclosing the point."""
    x1, y1 = curve[:-1, 0], curve[:-1, 1]
    x2, y2 = curve[1:, 0], curve[1:, 1]
    pxc = px[:, None]
    pyc = py[:, None]
    up = (y1[None, :] <= pyc) & (y2[None, :] > pyc)
    dn = (y1[None, :] > pyc) & (y2[None, :] <= pyc)
    cr = (x2 - x1)[None, :] * (pyc - y1[None, :]) \
        - (pxc - x1[None, :]) * (y2 - y1)[None, :]
    return (np.sum(up & (cr > 0), axis=1)
            - np.sum(dn & (cr < 0), axis=1)).astype(np.int64)


def _straddle_probes(
    ring: np.ndarray,
) -> tuple[tuple[float, float], tuple[float, float]]:
    """(inside, outside) probe points straddling a simple ring across the
    midpoint of its longest edge (edge-midpoint probes — vertex/centroid
    probes can land on another boundary; see PIP relate notes)."""
    seg = ring[1:] - ring[:-1]
    lens = np.hypot(seg[:, 0], seg[:, 1])
    i = int(np.argmax(lens))
    mid = (ring[i] + ring[i + 1]) / 2.0
    nx, ny = seg[i, 1] / lens[i], -seg[i, 0] / lens[i]
    eps = max(lens.max() * 1e-7, 1e-12)
    p_pos = (mid[0] + nx * eps, mid[1] + ny * eps)
    p_neg = (mid[0] - nx * eps, mid[1] - ny * eps)
    if G.points_in_ring(
        np.array([p_pos[0]]), np.array([p_pos[1]]), ring
    )[0]:
        return p_pos, p_neg
    return p_neg, p_pos


def _buffer_polygon(
    rings: list[np.ndarray], d: float, quad_segs: int
) -> list[np.ndarray]:
    """Full positive buffer of one polygon (exterior ring CCW + CW holes),
    concave input supported: raw offset curves per ring (always-CCW-arc
    bridges — reflex vertices wrap into overlap loops) → self-intersection
    noding → simple-ring tracing (the MakeValid machinery) → keep exactly
    the rings that form the BOUNDARY of the winding region: the dilated
    exterior is {w >= 1} and an eroded hole is {w <= -1}, so a traced ring
    survives iff its two straddle probes disagree on membership (an
    interior overlap lobe has w=2 on both sides — dropped).  The {w >= 1}
    region of the raw curve IS {x : dist(x, ring) <= d}, so the output is
    the exact buffer up to arc discretization.  MVP bound shared with the
    reference's single-geometry Buffer: rings are buffered independently
    (a hole closer than 2d to the exterior, or two merging lobes, need the
    overlay union pass on top)."""
    from gdal_spark.operators.dissolve import union_coverage_rings

    out: list[np.ndarray] = []
    for ri, ring in enumerate(rings):
        is_hole = ri > 0
        raw = _offset_ring_raw(ring, d, quad_segs)
        noded = G._node_ring_self(raw)
        simple = union_coverage_rings([[noded]])
        for s in simple:
            p_in, p_out = _straddle_probes(s)
            w_in, w_out = _winding_numbers(
                np.array([p_in[0], p_out[0]]),
                np.array([p_in[1], p_out[1]]), raw
            )
            if not is_hole:
                covered_in, covered_out = w_in >= 1, w_out >= 1
                if covered_in and not covered_out:
                    out.append(s if _signed_area(s) > 0 else s[::-1].copy())
            else:
                hole_in, hole_out = w_in <= -1, w_out <= -1
                if hole_in and not hole_out:
                    out.append(s if _signed_area(s) < 0 else s[::-1].copy())
    return out


def buffer_full(df: DataFrame, distance: float, rings_col: str = "rings",
                quad_segs: int = 8) -> DataFrame:
    """`gdal vector buffer` on ARBITRARY polygons (concave exteriors, hole
    erosion/vanish) — supersedes the convex-only :func:`buffer`.  Runs
    per-polygon in Arrow batches (map-only at any scale)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            vals = [
                [r.tolist() for r in _buffer_polygon(
                    G.rings_to_numpy(rr), distance, quad_segs
                )]
                for rr in pdf[rings_col]
            ]
            pdf[rings_col] = pd.Series(vals, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(run, df.schema)


def _make_valid_rings(rings: list[np.ndarray]) -> list[np.ndarray]:
    out = []
    for i, ring in enumerate(rings):
        r = ring
        if r.shape[0] and not (r[0] == r[-1]).all():
            r = np.vstack([r, r[:1]])  # close the ring
        # drop consecutive duplicate vertices
        keep = np.ones(r.shape[0], dtype=bool)
        keep[1:] = ~((r[1:] == r[:-1]).all(axis=1))
        r = r[keep]
        if r.shape[0] and not (r[0] == r[-1]).all():
            r = np.vstack([r, r[:1]])
        if r.shape[0] < 4:
            continue  # degenerate ring
        x, y = r[:, 0], r[:, 1]
        signed = 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))
        want_ccw = i == 0
        if (signed > 0) != want_ccw and signed != 0:
            r = r[::-1].copy()
        out.append(r)
    return out


def make_valid(df: DataFrame, rings_col: str = "rings") -> DataFrame:
    """`gdal vector make-valid` structure pass (OGRGeometry::MakeValid,
    ogrgeometry.cpp:4176, STRUCTURE method): close rings, drop duplicate
    vertices and degenerate rings, orient exterior CCW / holes CW."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            vals = [
                [r.tolist() for r in _make_valid_rings(G.rings_to_numpy(rr))]
                for rr in pdf[rings_col]
            ]
            pdf[rings_col] = pd.Series(vals, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(run, df.schema)


def _set_precision_rings(
    rings: list[np.ndarray], grid: float
) -> list[np.ndarray]:
    out = []
    for ring in rings:
        snapped = np.floor(ring / grid + 0.5) * grid
        keep = np.ones(snapped.shape[0], dtype=bool)
        keep[1:] = ~((snapped[1:] == snapped[:-1]).all(axis=1))
        r = snapped[keep]
        if r.shape[0] and not (r[0] == r[-1]).all():
            r = np.vstack([r, r[:1]])
        if r.shape[0] >= 4:
            out.append(r)
    return out


def set_precision(df: DataFrame, grid: float,
                  rings_col: str = "rings") -> DataFrame:
    """OGRGeometry::SetPrecision (ogrgeometry.cpp:7017 → GEOS precision
    reducer): snap every coordinate to the grid (half-up, the engine's
    stable_round), drop consecutive collapsed vertices and degenerate
    rings.  Map-only at any scale."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            vals = [
                [r.tolist() for r in _set_precision_rings(
                    G.rings_to_numpy(rr), grid
                )]
                for rr in pdf[rings_col]
            ]
            pdf[rings_col] = pd.Series(vals, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(run, df.schema)


def _normalize_rings(rings: list[np.ndarray]) -> list[np.ndarray]:
    fixed = _make_valid_rings(rings)  # orientation + closure first
    out = []
    for r in fixed:
        body = r[:-1]
        # rotate to start at the lexicographically smallest vertex
        k = int(np.lexsort((body[:, 1], body[:, 0]))[0])
        body = np.vstack([body[k:], body[:k]])
        out.append(np.vstack([body, body[:1]]))
    # exterior first (kept by _make_valid_rings), holes sorted by start
    if len(out) > 2:
        holes = sorted(out[1:], key=lambda r: (r[0, 0], r[0, 1]))
        out = out[:1] + holes
    return out


def normalize(df: DataFrame, rings_col: str = "rings") -> DataFrame:
    """OGRGeometry::Normalize (ogrgeometry.cpp:4362): canonical form —
    each ring rotated to begin at its lexicographically smallest vertex,
    exterior CCW first, holes CW sorted by their start vertex.  Two
    geometries are equal iff their normalized forms are identical, which
    makes dedup/groupBy over geometry columns exact."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            vals = [
                [r.tolist() for r in _normalize_rings(G.rings_to_numpy(rr))]
                for rr in pdf[rings_col]
            ]
            pdf[rings_col] = pd.Series(vals, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(run, df.schema)


def convex_hull(df: DataFrame, rings_col: str = "rings") -> DataFrame:
    """`gdal vector convex-hull` (ogrgeometry.cpp:4442 ConvexHull): Andrew
    monotone chain over every vertex of the feature."""

    def hull(rings: list[np.ndarray]) -> np.ndarray:
        pts = np.unique(np.concatenate([r[:-1] for r in rings]), axis=0)
        if pts.shape[0] < 3:
            return np.vstack([pts, pts[:1]])
        pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

        def half(seq):
            out = []
            for p in seq:
                while len(out) >= 2 and np.cross(
                    out[-1] - out[-2], p - out[-2]
                ) <= 0:
                    out.pop()
                out.append(p)
            return out

        lower = half(pts)
        upper = half(pts[::-1])
        ring = np.array(lower[:-1] + upper[:-1] + [lower[0]])
        return ring

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            vals = [
                [hull(G.rings_to_numpy(rr)).tolist()]
                for rr in pdf[rings_col]
            ]
            pdf[rings_col] = pd.Series(vals, index=pdf.index, dtype=object)
            yield pdf

    return df.mapInPandas(run, df.schema)


def check_geometry(df: DataFrame, rings_col: str = "rings") -> DataFrame:
    """`gdal vector check-geometry`: per-feature validity flags — ring
    closure, minimum vertex count, exterior orientation, proper boundary
    self-intersection (the OGRGeometry::IsValid criteria subset that needs
    no GEOS)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            closed, minpts, orient, selfx = [], [], [], []
            for rr in pdf[rings_col]:
                rings = G.rings_to_numpy(rr)
                closed.append(all(
                    (r.shape[0] > 0 and (r[0] == r[-1]).all()) for r in rings
                ))
                minpts.append(all(r.shape[0] >= 4 for r in rings))
                x, y = rings[0][:, 0], rings[0][:, 1]
                signed = 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))
                orient.append(signed > 0)
                edges = G.polygon_edges(rings)
                _, proper = G.segments_relate(edges, edges)
                selfx.append(bool(proper))
            pdf["is_closed"] = closed
            pdf["has_min_points"] = minpts
            pdf["exterior_ccw"] = orient
            pdf["self_intersects"] = selfx
            yield pdf

    from pyspark.sql.types import BooleanType, StructField, StructType

    schema = StructType(
        list(df.schema.fields)
        + [
            StructField("is_closed", BooleanType()),
            StructField("has_min_points", BooleanType()),
            StructField("exterior_ccw", BooleanType()),
            StructField("self_intersects", BooleanType()),
        ]
    )
    return df.mapInPandas(run, schema)


def set_field_type(df: DataFrame, col: str, dtype: str) -> DataFrame:
    """`gdal vector set-field-type`: cast a column in place."""
    return df.withColumn(col, F.col(col).cast(dtype))


def rename_fields(df: DataFrame, **renames: str) -> DataFrame:
    """`gdal vector edit --rename-field old=new`."""
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    return df


def export_schema(df: DataFrame) -> str:
    """`gdal vector export-schema` analog: the layer schema as JSON."""
    return df.schema.json()


def info(df: DataFrame, lon: str | None = None, lat: str | None = None) -> dict:
    """`gdal vector info` analog: feature count + field list (+ extent when
    coordinate columns are named) — one metadata-cheap aggregate."""
    out = {"feature_count": df.count(), "fields": df.columns}
    if lon and lat:
        row = df.agg(
            F.min(lon).alias("xmin"), F.min(lat).alias("ymin"),
            F.max(lon).alias("xmax"), F.max(lat).alias("ymax"),
        ).first()
        out["extent"] = tuple(row)
    return out


def combine(df: DataFrame, key: str, rings_col: str = "rings") -> DataFrame:
    """`gdal vector combine`: one MULTIPOLYGON feature per key — member
    polygons become parts (depth-4 ring nesting, the pip_join multipolygon
    convention). One shuffle on the key."""
    return (
        df.groupBy(key)
        .agg(F.collect_list(rings_col).alias(rings_col))
    )


def update(df: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """`gdal vector update` (upsert): rows of ``updates`` replace matching
    ``key`` rows of ``df``; unmatched update rows are appended."""
    kept = df.join(updates.select(key), on=key, how="left_anti")
    return kept.unionByName(updates, allowMissingColumns=True)


def edit_fields(df: DataFrame, **exprs: str) -> DataFrame:
    """`gdal vector edit` field assignment: column = SQL expression."""
    for name, e in exprs.items():
        df = df.withColumn(name, F.expr(e))
    return df


def set_geom_type(df: DataFrame, geom_type: str,
                  col: str = "geom_type") -> DataFrame:
    """`gdal vector set-geom-type`: tag the declared geometry type
    (schema metadata in OGR; a constant column here)."""
    return df.withColumn(col, F.lit(geom_type))


def check_coverage(df: DataFrame, key: str, rings_col: str = "rings") -> DataFrame:
    """`gdal vector check-coverage`: a polygon coverage is valid iff member
    interiors are pairwise disjoint (boundary contact allowed). Pairwise
    relate within each group, envelope-pruned — per-group work on one
    executor, groups run concurrently. Output: (key, n_features, sum_area,
    n_overlap_pairs, is_valid_coverage)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        rings_list = [G.rings_to_numpy(r) for r in pdf[rings_col]]
        boxes = [G.rings_envelope(r) for r in rings_list]
        sum_area = float(sum(G.rings_area(r) for r in rings_list))
        bad = 0
        n = len(rings_list)
        for i in range(n):
            for j in range(i + 1, n):
                a, b = boxes[i], boxes[j]
                if a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1]:
                    continue  # envelopes disjoint
                rel = G.relate_polygons(rings_list[i], rings_list[j])
                if rel["overlaps"] or rel["contains"] or rel["within"]:
                    bad += 1
        return pd.DataFrame(
            {
                key: [pdf[key].iloc[0]],
                "n_features": [n],
                "sum_area": [sum_area],
                "n_overlap_pairs": [bad],
                "is_valid_coverage": [bad == 0],
            }
        )

    schema = (
        f"{key} long, n_features long, sum_area double, "
        "n_overlap_pairs int, is_valid_coverage boolean"
    )
    return df.select(key, rings_col).groupBy(key).applyInPandas(run, schema)


def create_layer(spark: SparkSession, schema: str) -> DataFrame:
    """`gdal vector create`: an empty layer with the given schema."""
    return spark.createDataFrame([], schema)


def rename_layer(spark: SparkSession, old: str, new: str) -> None:
    """`gdal vector rename-layer` on the temp-view catalog."""
    df = spark.table(old)
    df.createOrReplaceTempView(new)
    spark.catalog.dropTempView(old)


# ---------------------------------------------------------------------------
# Serialized pipeline (GDALG analog, frmts/gdalg/gdalgdriver.cpp): a JSON
# document {"input": <table>, "pipeline": [{"step": ..., ...args}]} evaluated
# LAZILY on open — deserialization builds the Spark logical plan; nothing
# executes until an action runs, exactly the GDALG contract.
# ---------------------------------------------------------------------------

GDALG_STEPS = {
    "filter": lambda df, a: filter_expr(df, a["where"]),
    "select": lambda df, a: select_fields(df, *a["fields"]),
    "sort": lambda df, a: sort_by(df, *a["by"], desc=a.get("desc", False)),
    "limit": lambda df, a: limit_rows(df, a["n"], a.get("offset", 0)),
    "swap_xy": lambda df, a: swap_xy(df, a.get("lon", "lon"), a.get("lat", "lat")),
    "reproject_3857": lambda df, a: reproject_3857(df),
    "segmentize": lambda df, a: segmentize(df, a["max_len"]),
    "simplify": lambda df, a: simplify(df, a["tolerance"]),
    "buffer": lambda df, a: buffer(df, a["distance"], quad_segs=a.get("quad_segs", 8)),
    "buffer-full": lambda df, a: buffer_full(
        df, a["distance"], quad_segs=a.get("quad_segs", 8)
    ),
    "set-precision": lambda df, a: set_precision(df, a["grid"]),
    "normalize": lambda df, a: normalize(df),
    "clip": lambda df, a: clip(df, a["xmin"], a["ymin"], a["xmax"], a["ymax"]),
}


def run_serialized(spec, **tables: DataFrame) -> DataFrame:
    """Evaluate a serialized pipeline document (dict or JSON string) against
    named input tables. Unknown steps raise — the GDALG driver's behaviour
    for unknown entries."""
    import json as _json

    if isinstance(spec, str):
        spec = _json.loads(spec)
    df = tables[spec["input"]]
    for st in spec["pipeline"]:
        step = st["step"]
        if step not in GDALG_STEPS:
            raise ValueError(f"unknown pipeline step {step!r}")
        df = GDALG_STEPS[step](df, st)
    return df
