"""Polygon↔polygon spatial join (predicate menu) + rectangle clip + overlay.

Reference semantics: OGRGeometry::Intersects/Touches/Overlaps/Contains/
Within/Equals between two polygon layers (ogr/ogrgeometry.cpp:571,6002-6402;
exercised by autotest/ogr/ogr_geom.py:2430-2475) and OGRLayer::Clip
(ogr/ogrlayer.cpp:7538, apps/gdalalg_vector_clip.cpp) for rectangular clip
geometries.

Spark-first plan (the 100 TB shape). Every pair join here and in lines.py
is GDAL's spatial-filter shape — envelope prefilter, then the exact
predicate (ogr/ogrlayer.cpp:4005-4076) — written once, in two helpers:

* ``_candidate_pairs`` — each feature's envelope is covered with
  WebMercator tile cells at a fixed zoom (pure column math, latitudes
  clamped to the Mercator limit, explode of per-axis sequences), the layers
  equi-join on the cell key, and duplicate candidates are eliminated
  map-side with the *reference-cell* trick (a pair is kept only in the
  top-left cell of its envelope intersection — no distinct/shuffle needed,
  standard in distributed spatial joins). Skewed cells (many polygons in
  one cell) are ordinary equi-join skew — AQE skew-split applies.

* ``_refine`` — the exact numpy kernel (spatial/geometry.py,
  spatial/overlay.py) runs per row inside one Arrow UDF that receives only
  the geometry columns and returns the row's output records as an array of
  structs; the JVM explodes it into rows, so ids and other pass-through
  columns never leave the JVM. The map-only operators (``clip_to_rect``
  after its pushdown-friendly envelope prefilter, the erase kernels, the
  per-line kernels of lines.py) use the same helper.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from gdal_spark.spatial import geometry as G
from gdal_spark.spatial import tilemath as TM

FLAGS = ["intersects", "touches", "overlaps", "contains", "within", "equals"]
_RINGS = "rings array<array<array<double>>>"


def _candidate_pairs(
    a: DataFrame, b: DataFrame, zoom: int,
    id_a: str, geom_a: str, id_b: str, geom_b: str,
) -> DataFrame:
    """Every envelope-overlapping (a, b) pair once: (id_a, geom_a, id_b,
    geom_b). Both inputs need envelope columns (xmin, ymin, xmax, ymax) —
    at scale precomputed storage columns, so the cover math stays
    whole-stage-codegen column work. Pairs whose envelopes share no cover
    cell are disjoint by construction and not emitted."""

    def cover(df: DataFrame, id_col: str, geom_col: str, s: str) -> DataFrame:
        # tile math is NULL at the poles: clamp latitudes to the Mercator limit
        ymin, ymax = (
            F.least(F.greatest(F.col(c), F.lit(-TM.MAX_LAT)), F.lit(TM.MAX_LAT))
            for c in ("ymin", "ymax")
        )
        # ty of the envelope TOP (ymax) is the smallest ty (XYZ y grows south)
        txmin, tymin = TM.lonlat_to_tile(F.col("xmin"), ymax, zoom)
        txmax, tymax = TM.lonlat_to_tile(F.col("xmax"), ymin, zoom)
        return (
            df.select(
                F.col(id_col).cast("long").alias(f"id_{s}"),
                F.col(geom_col).alias(f"geom_{s}"),
                txmin.alias(f"_txmin_{s}"), tymin.alias(f"_tymin_{s}"),
                txmax.alias(f"_txmax_{s}"), tymax.alias(f"_tymax_{s}"),
            )
            .withColumn("cell_tx", F.explode(F.sequence(f"_txmin_{s}", f"_txmax_{s}")))
            .withColumn("cell_ty", F.explode(F.sequence(f"_tymin_{s}", f"_tymax_{s}")))
        )

    return (
        cover(a, id_a, geom_a, "a")
        .join(cover(b, id_b, geom_b, "b"), on=["cell_tx", "cell_ty"], how="inner")
        # reference-cell dedup: envelope-intersection's top-left cell only.
        # tile index is monotone in lon (and anti-monotone in lat), so the
        # intersection's txmin = max of the two txmins, same for tymin.
        .filter(
            (F.col("cell_tx") == F.greatest("_txmin_a", "_txmin_b"))
            & (F.col("cell_ty") == F.greatest("_tymin_a", "_tymin_b"))
        )
        .select("id_a", "geom_a", "id_b", "geom_b")
    )


def _refine(df: DataFrame, keep_cols: list, kernel, fields: str, *geom_cols) -> DataFrame:
    """``keep_cols`` followed by the records ``kernel`` makes from each row.

    ``kernel(*geoms)`` gets one row's ``geom_cols`` as Python lists and
    returns a list of records, tuples in the order of ``fields`` (a DDL
    field list such as ``"hd double"``): one for a predicate, none for an
    empty clip, n for crossings. One Arrow UDF over the geometry columns
    only returns them as array<struct<fields>> and ``inline`` makes the
    rows in the JVM, so ``keep_cols`` never cross into Python. A row with a
    NULL geometry yields no records."""
    rtype = T.ArrayType(T.DataType.fromDDL(fields))
    arrow_type = to_arrow_type(rtype)

    @F.arrow_udf(rtype)
    def records(*geoms: pa.Array) -> pa.Array:
        rows = zip(*(g.to_pylist() for g in geoms))
        return pa.array([[] if None in row else kernel(*row) for row in rows], arrow_type)

    return df.select(*keep_cols, F.inline(records(*geom_cols)))


def poly_relate_join(
    a: DataFrame, b: DataFrame, zoom: int = 5,
    id_a: str = "poly_id", id_b: str = "poly_id",
    rings_a: str = "rings", rings_b: str = "rings",
) -> DataFrame:
    """All candidate (envelope-overlapping) pairs with the full predicate
    set. Output: (id_a, id_b, intersects, touches, overlaps, contains,
    within, equals). Both inputs need envelope columns (xmin, ymin, xmax,
    ymax) alongside the ring arrays."""

    def relate(ra, rb):
        rel = G.relate_polygons(G.rings_to_numpy(ra), G.rings_to_numpy(rb))
        return [tuple(rel[f] for f in FLAGS)]

    pairs = _candidate_pairs(a, b, zoom, id_a, rings_a, id_b, rings_b)
    fields = ", ".join(f"{f} boolean" for f in FLAGS)
    return _refine(pairs, ["id_a", "id_b"], relate, fields, "geom_a", "geom_b")


def poly_de9im_join(
    a: DataFrame, b: DataFrame, zoom: int = 5,
    id_a: str = "poly_id", id_b: str = "poly_id",
    rings_a: str = "rings", rings_b: str = "rings",
) -> DataFrame:
    """Full DE-9IM relate join (OGR_G_Relate, ogr/ogrgeometry.cpp:6494):
    same cell-cover candidate plan as ``poly_relate_join``, refined by the
    exact 9-cell matrix kernel. Output: (id_a, id_b, de9im string,
    intersects); ``intersects`` (II, IB, BI or BB not F) is read off the
    matrix in the JVM."""

    def de9im(ra, rb):
        return [(G.de9im_polygons(G.rings_to_numpy(ra), G.rings_to_numpy(rb)),)]

    pairs = _candidate_pairs(a, b, zoom, id_a, rings_a, id_b, rings_b)
    out = _refine(pairs, ["id_a", "id_b"], de9im, "de9im string", "geom_a", "geom_b")
    return out.withColumn(
        "intersects",
        (F.substring("de9im", 1, 2) != "FF") | (F.substring("de9im", 4, 2) != "FF"),
    )


def _clip(rings, box) -> list:
    """S–H clip of one polygon to an axis box: [(rings, n_rings, area)], or
    no record when the clipped geometry is empty."""
    clipped = G.clip_rings_rect(G.rings_to_numpy(rings), *box)
    area = G.rings_area(clipped)
    return [([r.tolist() for r in clipped], len(clipped), area)] if area > 0.0 else []


def clip_to_rect(
    df: DataFrame, xmin: float, ymin: float, xmax: float, ymax: float,
    id_col: str = "poly_id", rings_col: str = "rings",
) -> DataFrame:
    """Clip every polygon to an axis-aligned box; rows whose clipped
    geometry is empty are dropped. Output: (id, rings, n_rings, clip_area).
    """
    pre = df.filter(
        (F.col("xmin") <= F.lit(xmax)) & (F.col("xmax") >= F.lit(xmin))
        & (F.col("ymin") <= F.lit(ymax)) & (F.col("ymax") >= F.lit(ymin))
    )
    box = (xmin, ymin, xmax, ymax)
    return _refine(
        pre, [F.col(id_col).cast("long").alias("id")], lambda r: _clip(r, box),
        f"{_RINGS}, n_rings int, clip_area double", rings_col,
    )


# ---------------------------------------------------------------------------
# Overlay family MVP: layer Intersection / Erase against an axis-rect layer
# (OGRLayer::Intersection ogrlayer.cpp:5386, ::Erase ogrlayer.cpp:7847,
# ::Clip ogrlayer.cpp:7538). The clip geometries are axis-aligned rects
# (the Sutherland–Hodgman fast path); arbitrary-polygon overlays need full
# polygon clipping (non-goal this round, see SURVEY §7).
# ---------------------------------------------------------------------------

def layer_intersection_rect(
    a: DataFrame, b: DataFrame, zoom: int = 5,
    id_a: str = "poly_id", id_b: str = "poly_id",
    rings_a: str = "rings",
) -> DataFrame:
    """Pairwise Intersection(A, B) where B's features are axis rects
    (columns xmin/ymin/xmax/ymax): candidate pairs via the cell-cover join,
    exact geometry via S–H clip of A's rings against B's box. Output:
    (id_a, id_b, rings, n_rings, inter_area) — empty intersections dropped.
    """
    boxes = b.withColumn("_box", F.array("xmin", "ymin", "xmax", "ymax"))
    pairs = _candidate_pairs(a, boxes, zoom, id_a, rings_a, id_b, "_box")
    return _refine(
        pairs, ["id_a", "id_b"], _clip,
        f"{_RINGS}, n_rings int, inter_area double", "geom_a", "geom_b",
    )


def _erase_area(a: DataFrame, inter: DataFrame, id_a: str, rings_a: str) -> DataFrame:
    """Erase(A, B) AREA accounting from the pairwise intersections ``inter``
    (id_a, inter_area) of a method layer B with mutually disjoint features:
    area(A \\ ∪B) = area(A) − Σ area(A ∩ B_i). Output: (id_a, area,
    erased_area, remaining_area)."""
    cut = inter.groupBy("id_a").agg(F.sum("inter_area").alias("erased_area"))
    areas = _refine(
        a, [F.col(id_a).cast("long").alias("id_a")],
        lambda r: [(G.rings_area(G.rings_to_numpy(r)),)], "area double", rings_a,
    )
    return (
        areas.join(cut, "id_a", "left")
        .withColumn("erased_area", F.coalesce("erased_area", F.lit(0.0)))
        .withColumn("remaining_area", F.col("area") - F.col("erased_area"))
    )


def layer_erase_area_rect(
    a: DataFrame, b: DataFrame, zoom: int = 5,
    id_a: str = "poly_id", id_b: str = "poly_id",
    rings_a: str = "rings",
) -> DataFrame:
    """Erase(A, B) AREA accounting for axis-rect B layers with mutually
    disjoint features (true for the probe fixture's erase subset):
    area(A \\ ∪B) = area(A) − Σ area(A ∩ B_i). Output: (id_a, area,
    erased_area, remaining_area). Geometry output of erase needs general
    polygon difference — documented MVP boundary."""
    inter = layer_intersection_rect(a, b, zoom, id_a, id_b, rings_a)
    return _erase_area(a, inter, id_a, rings_a)


def layer_erase_parts_rect(
    a: DataFrame, b: DataFrame,
    id_a: str = "poly_id", id_b: str = "poly_id", rings_a: str = "rings",
) -> DataFrame:
    """GEOMETRIC Erase(A, B) for an axis-rect B layer with interior-disjoint
    features (OGRLayer::Erase, ogrlayer.cpp:7847): every A feature is erased
    by each envelope-intersecting rect via the 4-slab difference kernel
    (geometry.erase_rings_rect), iterating over the produced parts. B is a
    dimension (collected + broadcast); A streams through one map-only
    Arrow UDF stage — no shuffle, linear in A at 100 TB. Output one row
    per surviving A feature: (id_a, remaining_area, n_parts)."""
    spark = a.sparkSession
    rects = sorted(
        (int(r[id_b]), float(r["xmin"]), float(r["ymin"]),
         float(r["xmax"]), float(r["ymax"]))
        for r in b.select(id_b, "xmin", "ymin", "xmax", "ymax").collect()
    )
    bc = spark.sparkContext.broadcast(rects)

    def erase(rings):
        parts = [G.rings_to_numpy(rings)]
        for (_rid, bx0, by0, bx1, by1) in bc.value:
            nxt = []
            for p in parts:
                e = G.rings_envelope(p)
                if e[2] <= bx0 or e[0] >= bx1 or e[3] <= by0 or e[1] >= by1:
                    nxt.append(p)  # no interior overlap: untouched
                else:
                    nxt.extend(G.erase_rings_rect(p, bx0, by0, bx1, by1))
            parts = nxt
            if not parts:
                break
        area = float(sum(G.rings_area(p) for p in parts))
        return [(area, len(parts))] if parts and area > 0.0 else []

    return _refine(
        a, [F.col(id_a).cast("long").alias("id_a")], erase,
        "remaining_area double, n_parts int", rings_a,
    )


OVERLAY_OPS = ("union", "symdifference", "identity", "update")


def layer_overlay_rect(
    a: DataFrame, b: DataFrame, op: str, zoom: int = 5,
    id_a: str = "poly_id", id_b: str = "poly_id", rings_a: str = "rings",
    eps: float = 1e-9,
) -> DataFrame:
    """Layer-algebra overlay family against an axis-rect method layer B with
    mutually interior-disjoint features — OGRLayer::Union (ogrlayer.cpp:
    5804), ::SymDifference (:6341), ::Identity (:6771), ::Update (:7189).
    GDAL's per-feature driver loop is re-expressed as set algebra over the
    distributed intersection join:

      union          = (A∩B_i pairs) ∪ (A − ∪B) ∪ (B − ∪A)
      symdifference  = (A − ∪B) ∪ (B − ∪A)
      identity       = (A∩B_i pairs) ∪ (A − ∪B)
      update         = (A − ∪B) ∪ B            (B features pass unchanged)

    A-side remainders come from the GEOMETRIC erase kernel (4-slab
    difference parts, layer_erase_parts_rect) — not arithmetic — so an
    interval-math oracle independently cross-checks the kernel. B-side
    remainders use area(B) − Σ area(A∩B_i), exact when A's features are
    interior-disjoint (the coverage contract, documented). Output rows:
    (cls, id_a, id_b, area) with -1 for the absent side's id (sentinel
    instead of NULL so cross-engine hashing stays dtype-stable); rows with
    area <= eps are dropped on BOTH engines (eps guards last-ulp float
    disagreement on fully-covered features, far below any real fixture
    area)."""
    if op not in OVERLAY_OPS:
        raise ValueError(f"op must be one of {OVERLAY_OPS}")
    inter = layer_intersection_rect(a, b, zoom, id_a, id_b, rings_a)
    both = inter.select(
        F.lit("both").alias("cls"), "id_a", "id_b",
        F.col("inter_area").alias("area"),
    )
    a_rem = layer_erase_parts_rect(a, b, id_a, id_b, rings_a)
    a_only = a_rem.filter(F.col("remaining_area") > eps).select(
        F.lit("a_only").alias("cls"), "id_a",
        F.lit(-1).cast("long").alias("id_b"),
        F.col("remaining_area").alias("area"),
    )
    b_areas = b.select(
        F.col(id_b).alias("id_b"),
        ((F.col("xmax") - F.col("xmin"))
         * (F.col("ymax") - F.col("ymin"))).alias("_ba"),
    )
    if op == "update":
        b_side = b_areas.select(
            F.lit("b_update").alias("cls"),
            F.lit(-1).cast("long").alias("id_a"),
            "id_b", F.col("_ba").alias("area"),
        )
    else:
        cut_b = inter.groupBy("id_b").agg(F.sum("inter_area").alias("_cb"))
        b_side = (
            b_areas.join(cut_b, "id_b", "left")
            .withColumn("_rem", F.col("_ba") - F.coalesce("_cb", F.lit(0.0)))
            .filter(F.col("_rem") > eps)
            .select(
                F.lit("b_only").alias("cls"),
                F.lit(-1).cast("long").alias("id_a"),
                "id_b", F.col("_rem").alias("area"),
            )
        )
    if op == "union":
        return both.unionByName(a_only).unionByName(b_side)
    if op == "symdifference":
        return a_only.unionByName(b_side)
    if op == "identity":
        return both.unionByName(a_only)
    return a_only.unionByName(b_side)  # update


def layer_overlay_poly(
    a: DataFrame, b: DataFrame, op: str = "intersection", zoom: int = 5,
    id_a: str = "poly_id", id_b: str = "poly_id",
    rings_a: str = "rings", rings_b: str = "rings",
) -> DataFrame:
    """Pairwise boolean overlay against an ARBITRARY polygon method layer
    (concave, holed) — the general form of OGRLayer::Intersection / Clip
    (ogrlayer.cpp:5386, :7538; rect MVP in layer_intersection_rect).

    Same 100 TB plan shape as the rect path: cell-cover candidate pairs,
    then the from-scratch noding + boundary-selection + trace kernel
    (spatial/overlay.py) per candidate pair in the Arrow refine UDF.
    Output: (id_a, id_b, rings, n_parts, n_rings, inter_area) — empty
    results dropped.
    """
    from gdal_spark.spatial import overlay as OV

    def overlay(ra, rb):
        parts = OV.overlay_polygons(G.rings_to_numpy(ra), G.rings_to_numpy(rb), op)
        area = OV.overlay_area(parts)
        if area <= 0.0:
            return []
        flat = OV.overlay_parts_rings(parts)
        return [([r.tolist() for r in flat], len(parts), len(flat), area)]

    pairs = _candidate_pairs(a, b, zoom, id_a, rings_a, id_b, rings_b)
    return _refine(
        pairs, ["id_a", "id_b"], overlay,
        f"{_RINGS}, n_parts int, n_rings int, inter_area double", "geom_a", "geom_b",
    )


def layer_erase_area_poly(
    a: DataFrame, b: DataFrame, zoom: int = 5,
    id_a: str = "poly_id", id_b: str = "poly_id",
    rings_a: str = "rings", rings_b: str = "rings",
) -> DataFrame:
    """Erase(A, B) AREA accounting against an arbitrary polygon method
    layer with mutually disjoint features: area(A \\ ∪B) = area(A) −
    Σ area(A ∩ B_i), each pairwise intersection computed by the general
    overlay kernel. Output: (id_a, area, erased_area, remaining_area)."""
    inter = layer_overlay_poly(
        a, b, "intersection", zoom, id_a, id_b, rings_a, rings_b)
    return _erase_area(a, inter, id_a, rings_a)
