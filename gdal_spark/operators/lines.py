"""LineString operators: line↔polygon predicate join and line clip.

Reference semantics: OGRGeometry::Intersects/Crosses/Touches/Within on
line/area pairs (ogr/ogrgeometry.cpp:571+ → GEOS) and `gdal vector clip` /
OGRLayer::Clip applied to line layers (apps/gdalalg_vector_clip.cpp,
ogr/ogrlayer.cpp:7538).

Spark-first plan shapes (the 100 TB story):

* ``line_poly_relate_join`` / ``line_line_intersection_join`` — the
  polygon joins' candidate plan (poly_join._candidate_pairs: envelope →
  cell-cover explode, equi-join on the cell key with reference-cell dedup)
  and their exact step (poly_join._refine: one Arrow UDF over the two
  geometry columns, rows exploded in the JVM).  Skewed cells are ordinary
  equi-join skew (AQE).
* ``clip_lines_to_rect``, ``line_substring``, ``hausdorff_join`` —
  map-only: the same Arrow refine UDF over the coordinate column; no
  shuffle at any scale.
* ``point_line_distance_join`` — map-only: one column Arrow UDF over the
  point coordinates, vectorized over the whole batch.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.operators.poly_join import _candidate_pairs, _refine
from gdal_spark.spatial import geometry as G

LINE_FLAGS = ["intersects", "crosses", "touches", "within"]


def with_line_envelope(
    lines: DataFrame, coords_col: str = "coords"
) -> DataFrame:
    """Append (xmin, ymin, xmax, ymax) envelope columns from the coordinate
    array — JVM HOF min/max, no Python."""
    xs = F.transform(F.col(coords_col), lambda p: p[0])
    ys = F.transform(F.col(coords_col), lambda p: p[1])
    return (
        lines.withColumn("xmin", F.array_min(xs))
        .withColumn("ymin", F.array_min(ys))
        .withColumn("xmax", F.array_max(xs))
        .withColumn("ymax", F.array_max(ys))
    )


def line_poly_relate_join(
    lines: DataFrame, polys: DataFrame, zoom: int = 5,
    line_id: str = "line_id", poly_id: str = "poly_id",
    coords_col: str = "coords", rings_col: str = "rings",
) -> DataFrame:
    """Candidate (envelope-overlapping) line×polygon pairs with the OGC
    line/area predicate set.  Output: (id_a=line, id_b=polygon,
    intersects, crosses, touches, within)."""

    def relate(coords, rings):
        rel = G.relate_line_polygon(
            np.asarray(coords, dtype=np.float64), G.rings_to_numpy(rings))
        return [tuple(rel[f] for f in LINE_FLAGS)]

    pairs = _candidate_pairs(
        with_line_envelope(lines, coords_col), polys, zoom,
        line_id, coords_col, poly_id, rings_col,
    )
    fields = ", ".join(f"{f} boolean" for f in LINE_FLAGS)
    return _refine(pairs, ["id_a", "id_b"], relate, fields, "geom_a", "geom_b")


def clip_lines_to_rect(
    lines: DataFrame,
    xmin: float, ymin: float, xmax: float, ymax: float,
    line_id: str = "line_id", coords_col: str = "coords",
) -> DataFrame:
    """Liang–Barsky clip of every polyline segment to the window.  Output
    one row per SURVIVING segment: (line_id, seg_idx, cx1, cy1, cx2, cy2,
    seg_len) — per-segment rows keep downstream length sums order-free."""

    def clip(coords):
        arr = np.asarray(coords, dtype=np.float64)
        if arr.shape[0] < 2:
            return []
        cx1, cy1, cx2, cy2, keep = G.clip_segment_rect(
            arr[:-1, 0], arr[:-1, 1], arr[1:, 0], arr[1:, 1],
            xmin, ymin, xmax, ymax,
        )
        idx = np.nonzero(keep)[0]
        cx1, cy1, cx2, cy2 = cx1[idx], cy1[idx], cx2[idx], cy2[idx]
        # sqrt of the explicit sum (not hypot) — bit-parity with the SQL
        # oracle's sqrt(dx*dx + dy*dy)
        ln = np.sqrt((cx2 - cx1) ** 2 + (cy2 - cy1) ** 2)
        return list(zip(*(v.tolist() for v in (idx, cx1, cy1, cx2, cy2, ln))))

    return _refine(
        lines, [F.col(line_id).cast("long").alias(line_id)], clip,
        "seg_idx long, cx1 double, cy1 double, cx2 double, cy2 double, "
        "seg_len double",
        coords_col,
    )


def line_line_intersection_join(
    a: DataFrame, b: DataFrame, zoom: int = 5,
    id_a: str = "line_id", id_b: str = "line_id",
    coords_a: str = "coords", coords_b: str = "coords",
) -> DataFrame:
    """All point intersections between two line layers (the road-crossing
    join; OGRGeometry::Intersection on line/line pairs → GEOS).  Same
    cell-cover candidate plan as the polygon joins; the exact kernel solves
    every segment pair of a candidate line pair in one vectorized
    parameter computation.  Output: one row per crossing segment pair —
    (id_a, id_b, seg_a, seg_b, ix, iy).  Collinear overlaps are not point
    events and are skipped."""

    def crossings(coords_a, coords_b):
        ea = G.line_edges(np.asarray(coords_a, dtype=np.float64))
        eb = G.line_edges(np.asarray(coords_b, dtype=np.float64))
        if ea.shape[0] == 0 or eb.shape[0] == 0:
            return []
        p = ea[:, None, 0, :]
        d = ea[:, None, 1, :] - p
        q = eb[None, :, 0, :]
        e = eb[None, :, 1, :] - q
        w = q - p
        denom = d[..., 0] * e[..., 1] - d[..., 1] * e[..., 0]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (w[..., 0] * e[..., 1] - w[..., 1] * e[..., 0]) / denom
            u = (w[..., 0] * d[..., 1] - w[..., 1] * d[..., 0]) / denom
        hit = (denom != 0.0) & (t >= 0.0) & (t <= 1.0) & (u >= 0.0) & (u <= 1.0)
        sa, sb = np.nonzero(hit)
        ix = p[sa, 0, 0] + t[sa, sb] * d[sa, 0, 0]
        iy = p[sa, 0, 1] + t[sa, sb] * d[sa, 0, 1]
        return list(zip(sa.tolist(), sb.tolist(), ix.tolist(), iy.tolist()))

    pairs = _candidate_pairs(
        with_line_envelope(a, coords_a), with_line_envelope(b, coords_b), zoom,
        id_a, coords_a, id_b, coords_b,
    )
    return _refine(
        pairs, ["id_a", "id_b"], crossings,
        "seg_a long, seg_b long, ix double, iy double", "geom_a", "geom_b",
    )


def snap_vertices(
    geoms: DataFrame,
    ref_points: DataFrame,
    tolerance: float,
    id_col: str = "line_id",
    coords_col: str = "coords",
    ref_x: str = "x",
    ref_y: str = "y",
) -> DataFrame:
    """ST_Snap (vertex→reference-vertex flavor; GEOS snap as exposed by the
    OGR SQLite/Spatialite dialect, and the snapping half of
    `gdal vector clean-coverage`): every vertex within ``tolerance`` of a
    reference point moves onto the NEAREST one (ties: smaller (x, y)).

    Distributed shape: vertices explode with their position, both sides
    bucket into tolerance-sized cells, candidates come from the 3×3
    neighbor-cell equi-join (never a distance cross join), argmin per
    vertex by (d², x, y) window, then the ordered array reassembles with
    sort_array over (pos, point) structs.  All JVM column math."""
    cell = float(tolerance)
    tol2 = float(tolerance) * float(tolerance)

    verts = geoms.select(
        id_col, F.posexplode(coords_col).alias("_pos", "_pt")
    ).select(
        id_col, "_pos",
        F.col("_pt")[0].alias("_vx"), F.col("_pt")[1].alias("_vy"),
    ).withColumn("_cx", F.floor(F.col("_vx") / cell).cast("long")) \
     .withColumn("_cy", F.floor(F.col("_vy") / cell).cast("long")) \
     .withColumn("_dx", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)]))) \
     .withColumn("_dy", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)]))) \
     .withColumn("_jx", F.col("_cx") + F.col("_dx")) \
     .withColumn("_jy", F.col("_cy") + F.col("_dy"))

    refs = ref_points.select(
        F.col(ref_x).alias("_rx"), F.col(ref_y).alias("_ry"),
        F.floor(F.col(ref_x) / cell).cast("long").alias("_jx"),
        F.floor(F.col(ref_y) / cell).cast("long").alias("_jy"),
    )

    d2 = (
        (F.col("_vx") - F.col("_rx")) * (F.col("_vx") - F.col("_rx"))
        + (F.col("_vy") - F.col("_ry")) * (F.col("_vy") - F.col("_ry"))
    )
    cand = (
        verts.join(refs, on=["_jx", "_jy"], how="left")
        .withColumn("_d2", d2)
        .withColumn(
            "_hit", F.col("_d2").isNotNull() & (F.col("_d2") <= tol2)
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col, "_pos").orderBy(
        F.col("_hit").desc(), F.col("_d2").asc_nulls_last(),
        F.col("_rx"), F.col("_ry"),
    )
    best = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            id_col, "_pos",
            F.when(F.col("_hit"), F.col("_rx")).otherwise(F.col("_vx"))
             .alias("_sx"),
            F.when(F.col("_hit"), F.col("_ry")).otherwise(F.col("_vy"))
             .alias("_sy"),
            F.col("_hit").alias("_snapped"),
        )
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("_pos", "_sx", "_sy"))
            ),
            lambda s: F.array(s["_sx"], s["_sy"]),
        ).alias(coords_col),
        F.sum(F.col("_snapped").cast("long")).alias("n_snapped"),
    )


def point_line_distance_join(
    points: DataFrame,
    lines: DataFrame,
    point_id: str = "o_orderkey",
    x_col: str = "lon",
    y_col: str = "lat",
    line_id: str = "line_id",
    coords_col: str = "coords",
    return_point: bool = False,
) -> DataFrame:
    """Nearest-line enrichment (distance to nearest road): for every point
    the closest line feature and the planar distance to it (point→segment
    projection, clamped).  The line layer is collected to a broadcast
    (dimension-sized network — the knn_exact pattern); the kernel runs one
    vectorized argmin over all segments per Arrow batch.  For fact-scale
    line layers use the cell-bucketed kNN machinery instead.
    Output: (point_id, line_id, seg_idx, dist) plus the projected
    closest-point coordinates (cx, cy) when ``return_point`` is set
    (ST_ClosestPoint / OGRGeometry nearest-point semantics)."""
    # deterministic broadcast order (argmin breaks exact-d² ties by array
    # index, which must mirror the (line_id, seg_idx) oracle tie order)
    recs = lines.select(line_id, coords_col).dropna().orderBy(line_id).collect()
    segs = []
    ids = []
    sidx = []
    for r in recs:
        e = G.line_edges(np.asarray(r[coords_col], dtype=np.float64))
        for j in range(e.shape[0]):
            segs.append(e[j])
            ids.append(int(r[line_id]))
            sidx.append(j)
    seg_arr = np.asarray(segs, dtype=np.float64).reshape(-1, 2, 2)  # (S, 2, 2)
    id_arr = np.asarray(ids, dtype=np.int64)
    sx_arr = np.asarray(sidx, dtype=np.int64)
    no_lines = seg_arr.shape[0] == 0
    if no_lines:  # one dummy segment keeps the kernel's shapes; every row is NULL
        seg_arr, id_arr, sx_arr = np.zeros((1, 2, 2)), np.zeros(1, np.int64), np.zeros(1, np.int64)
    spark = points.sparkSession
    b = spark.sparkContext.broadcast((seg_arr, id_arr, sx_arr))
    fields = f"{line_id} long, seg_idx long, dist double"
    if return_point:
        fields += ", cx double, cy double"
    rtype = T.DataType.fromDDL(f"struct<{fields}>")

    @F.arrow_udf(rtype)
    def nearest(x: pa.Array, y: pa.Array) -> pa.Array:
        sa, ia, xa = b.value
        a = sa[:, 0, :]                     # (S, 2)
        d = sa[:, 1, :] - a
        dd = (d * d).sum(axis=1)
        dd = np.where(dd == 0.0, 1.0, dd)
        # NULL coordinates arrive as NaN; a non-finite point has no nearest line
        px = x.to_numpy(zero_copy_only=False)[:, None]
        py = y.to_numpy(zero_copy_only=False)[:, None]
        t = ((px - a[None, :, 0]) * d[None, :, 0]
             + (py - a[None, :, 1]) * d[None, :, 1]) / dd[None, :]
        t = np.minimum(np.maximum(t, 0.0), 1.0)
        qx = a[None, :, 0] + t * d[None, :, 0]
        qy = a[None, :, 1] + t * d[None, :, 1]
        d2 = (px - qx) ** 2 + (py - qy) ** 2
        k = np.argmin(d2, axis=1)      # first minimum = smallest index
        rows = np.arange(px.shape[0])
        cols = [ia[k], xa[k], np.sqrt(d2[rows, k])]
        if return_point:
            cols += [qx[rows, k], qy[rows, k]]
        bad = ~(np.isfinite(px[:, 0]) & np.isfinite(py[:, 0])) | no_lines
        return pa.StructArray.from_arrays(
            [pa.array(c, mask=bad) for c in cols], names=rtype.names)

    xy = (F.col(x_col).cast("double"), F.col(y_col).cast("double"))
    return points.select(
        F.col(point_id).cast("long").alias(point_id), nearest(*xy).alias("_near")
    ).select(point_id, "_near.*")


def line_substring(
    lines: DataFrame,
    f0: float,
    f1: float,
    line_id: str = "line_id",
    coords_col: str = "coords",
) -> DataFrame:
    """ST_LineSubstring (Spatialite/PostGIS Line_Substring; OGR reaches it
    through the SQLite dialect): the sub-polyline between length fractions
    f0 < f1.  Lengths are quantized to integer micro-units BEFORE the
    cumulative sum, so cut positions are integer-exact across engines and
    only the final endpoint lerp is float (deterministic: same two
    operands).  Map-only.  Output: (line_id, n_vertices, x0, y0, x1, y1,
    sub_len_micro)."""

    def substring(coords):
        arr = np.asarray(coords, dtype=np.float64)
        if arr.shape[0] < 2:
            return []
        dx = arr[1:, 0] - arr[:-1, 0]
        dy = arr[1:, 1] - arr[:-1, 1]
        sl = np.floor(np.sqrt(dx * dx + dy * dy) * 1e6 + 0.5).astype(np.int64)
        nz = np.flatnonzero(sl)
        if not nz.size:  # zero length: both cuts at the first vertex
            return [(2, arr[0, 0], arr[0, 1], arr[0, 0], arr[0, 1], 0)]
        c1 = np.cumsum(sl)
        c0 = c1 - sl
        total = int(c1[-1])
        d0 = int(np.floor(f0 * total))
        d1 = int(np.floor(f1 * total))

        def cut(d):
            # past the end, cut the last segment of nonzero length
            k = min(int(np.searchsorted(c1, d, side="right")), int(nz[-1]))
            t = (d - float(c0[k])) / float(sl[k])
            return arr[k, 0] + t * dx[k], arr[k, 1] + t * dy[k]

        inner = int(((c1 > d0) & (c1 < d1)).sum())
        return [(inner + 2, *cut(d0), *cut(d1), d1 - d0)]

    return _refine(
        lines, [F.col(line_id).cast("long").alias(line_id)], substring,
        "n_vertices long, x0 double, y0 double, x1 double, y1 double, "
        "sub_len_micro long",
        coords_col,
    )


def hausdorff_join(
    a: DataFrame, b: DataFrame,
    id_a: str = "line_id", id_b: str = "line_id",
    coords_a: str = "coords", coords_b: str = "coords",
) -> DataFrame:
    """Discrete Hausdorff distance between every pair of the two line
    layers — OGR_G_HausdorffDistance via GEOS DiscreteHausdorffDistance
    semantics: each ORIENTED term measures every VERTEX of one line against
    the other line's SEGMENTS (point-to-segment distance, GEOS
    ``EuclideanDistanceToPoint``), not vertex-to-vertex, so a vertex lying
    mid-segment of the other line contributes distance 0.  The B layer is
    dimension-sized and broadcasts; per pair one vectorized
    (|verts|,|segs|) point-segment matrix each direction; squared-distance
    cascade with a single final sqrt.  Output: (id_a, id_b, hd)."""
    recs = b.select(id_b, coords_b).dropna().orderBy(id_b).collect()
    # a line with no vertices is skipped, as a NULL line is
    bverts = [
        (int(r[id_b]), np.asarray(r[coords_b], dtype=np.float64).reshape(-1, 2))
        for r in recs if len(r[coords_b])
    ]
    spark = a.sparkSession
    bb = spark.sparkContext.broadcast(bverts)

    def pt_seg_min_d2(pts: np.ndarray, seg: np.ndarray) -> np.ndarray:
        """min over segments of point->segment squared distance; pts (n,2),
        seg (m,2) vertices of a polyline (m-1 segments).  Expression order
        mirrors the SQL oracle exactly for cross-engine FP parity.  A
        single vertex is one zero-length segment."""
        if seg.shape[0] == 1:
            seg = np.repeat(seg, 2, axis=0)
        ax, ay = seg[:-1, 0], seg[:-1, 1]
        dx = seg[1:, 0] - seg[:-1, 0]
        dy = seg[1:, 1] - seg[:-1, 1]
        len2 = dx * dx + dy * dy
        px, py = pts[:, None, 0], pts[:, None, 1]
        num = (px - ax) * dx + (py - ay) * dy
        with np.errstate(divide="ignore", invalid="ignore"):
            t = num / len2
        t = np.where(len2 > 0, np.clip(t, 0.0, 1.0), 0.0)
        qx = ax + t * dx
        qy = ay + t * dy
        ex = px - qx
        ey = py - qy
        return (ex * ex + ey * ey).min(axis=1)

    def hd(coords):
        av = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
        if not av.shape[0]:
            return []
        return [
            (bid, float(np.sqrt(max(
                float(pt_seg_min_d2(av, bv).max()),
                float(pt_seg_min_d2(bv, av).max()),
            ))))
            for bid, bv in bb.value
        ]

    return _refine(
        a, [F.col(id_a).cast("long").alias("id_a")], hd, "id_b long, hd double", coords_a
    )
