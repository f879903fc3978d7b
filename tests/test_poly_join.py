"""Polygon↔polygon predicates + rectangle clip: kernel truth tables
(transcribed from the case families of autotest/ogr/ogr_geom.py:2430-2475
— Intersects/Touches/Overlaps/Contains/Within/Equals between polygons,
including holes and non-convex shapes) and the distributed join plan."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.data.pages import polygons_b_df, polygons_df
from gdal_spark.operators import lines as LN
from gdal_spark.operators import poly_join as PJ
from gdal_spark.spatial import geometry as G


def rect(x0, y0, x1, y1):
    return [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])]


def tri(a, b, c):
    return [np.array([a, b, c, a], dtype=np.float64)]


HEX = [
    np.stack(
        [
            20.0 + 3.0 * np.cos(np.linspace(0, 2 * np.pi, 7)),
            20.0 + 3.0 * np.sin(np.linspace(0, 2 * np.pi, 7)),
        ],
        axis=1,
    )
]
HOLEY = [
    np.array([[0, 0], [8, 0], [8, 8], [0, 8], [0, 0]], dtype=np.float64),
    np.array([[2, 2], [2, 6], [6, 6], [6, 2], [2, 2]], dtype=np.float64),
]


CASES = [
    # (name, A, B, expected-true flags)
    ("equal", rect(0, 0, 4, 4), rect(0, 0, 4, 4),
     {"intersects", "contains", "within", "equals"}),
    ("within", rect(0, 0, 4, 4), rect(1, 1, 2, 2), {"intersects", "contains"}),
    ("contains_rev", rect(1, 1, 2, 2), rect(0, 0, 4, 4),
     {"intersects", "within"}),
    ("overlap", rect(0, 0, 4, 4), rect(2, 2, 6, 6),
     {"intersects", "overlaps"}),
    ("edge_touch", rect(0, 0, 4, 4), rect(4, 1, 6, 3),
     {"intersects", "touches"}),
    ("corner_touch", rect(0, 0, 4, 4), rect(4, 4, 6, 6),
     {"intersects", "touches"}),
    ("disjoint", rect(0, 0, 4, 4), rect(10, 10, 12, 12), set()),
    ("tri_cross", tri((0, 0), (4, 0), (2, 4)), tri((0, 3), (4, 3), (2, -1)),
     {"intersects", "overlaps"}),
    ("tri_vertex_touch", tri((0, 0), (2, 0), (1, 2)),
     tri((1, 2), (3, 2), (2, 4)), {"intersects", "touches"}),
    ("hex_overlap", HEX, rect(19, 19, 25, 25), {"intersects", "overlaps"}),
    ("hex_within", HEX, rect(16, 16, 24, 24), {"intersects", "within"}),
    ("hole_fill_touches", HOLEY, rect(2, 2, 6, 6), {"intersects", "touches"}),
    ("inside_hole_disjoint", HOLEY, rect(3, 3, 5, 5), set()),
    ("spans_hole_overlap", HOLEY, rect(1, 3, 7, 5), {"intersects", "overlaps"}),
    ("contains_despite_hole", HOLEY, rect(0.5, 6.5, 7.5, 7.5),
     {"intersects", "contains"}),
    # rect inside the hole, top edge on the hole boundary: boundary-only
    # contact — interiors are disjoint (the rect interior is in the hole)
    ("hole_edge_touch", HOLEY, rect(3, 4, 5, 6), {"intersects", "touches"}),
]


@pytest.mark.parametrize("name,a,b,true_flags", CASES, ids=[c[0] for c in CASES])
def test_relate_truth_table(name, a, b, true_flags):
    rel = G.relate_polygons(a, b)
    got = {k for k, v in rel.items() if v}
    assert got == true_flags, f"{name}: {got} != {true_flags}"
    # symmetry: swap A/B must mirror contains/within and keep the rest
    rev = G.relate_polygons(b, a)
    assert rev["intersects"] == rel["intersects"]
    assert rev["touches"] == rel["touches"]
    assert rev["overlaps"] == rel["overlaps"]
    assert rev["contains"] == rel["within"]
    assert rev["within"] == rel["contains"]
    assert rev["equals"] == rel["equals"]


def test_interior_point_always_strictly_inside():
    for rings in [rect(0, 0, 4, 4), HEX, HOLEY,
                  tri((0, 0), (4, 0), (2, 4)),
                  [np.array([[0, 0], [4, 0], [4, 1], [1, 1], [1, 4],
                             [0, 4], [0, 0]], dtype=np.float64)]]:
        x, y = G.interior_point(rings)
        assert G.points_in_polygon(np.array([x]), np.array([y]), rings)[0]


def test_clip_hexagon_area_matches_numeric_integration():
    """Hexagon clipped by a vertical half-plane window: Sutherland–Hodgman
    area vs dense grid integration (independent of the clip code path)."""
    clipped = G.clip_rings_rect(HEX, 20.5, 0.0, 100.0, 100.0)
    area = G.rings_area(clipped)
    xs = np.linspace(17.0, 23.0, 1201)
    ys = np.linspace(17.0, 23.0, 1201)
    gx, gy = np.meshgrid(xs, ys)
    inside = G.points_in_polygon(gx.ravel(), gy.ravel(), HEX)
    cell = (xs[1] - xs[0]) * (ys[1] - ys[0])
    num = float((inside & (gx.ravel() >= 20.5)).sum()) * cell
    assert area == pytest.approx(num, abs=0.05)


def test_clip_preserves_holes():
    clipped = G.clip_rings_rect(HOLEY, -1.0, -1.0, 7.0, 9.0)
    assert len(clipped) == 2
    assert G.rings_area(clipped) == pytest.approx(7 * 8 - 4 * 4)


def test_clip_outside_returns_empty():
    assert G.clip_rings_rect(rect(0, 0, 1, 1), 5, 5, 6, 6) == []


def test_poly_relate_join_matches_kernel_allpairs(spark):
    """Distributed cell-cover join must find exactly the pairs the kernel
    finds on the full cross product (no candidate lost to cell logic)."""
    import itertools

    from gdal_spark.data.pages import polygon_records, polygon_records_b

    a_recs = polygon_records()
    b_recs = polygon_records_b()
    expected = {}
    for ra, rb in itertools.product(a_recs, b_recs):
        rel = G.relate_polygons(
            G.rings_to_numpy(ra["rings"]), G.rings_to_numpy(rb["rings"])
        )
        if rel["intersects"]:
            expected[(ra["poly_id"], rb["poly_id"])] = rel
    out = PJ.poly_relate_join(polygons_df(spark), polygons_b_df(spark))
    got = {
        (r["id_a"], r["id_b"]): r
        for r in out.filter(F.col("intersects")).collect()
    }
    assert set(got) == set(expected)
    for k, rel in expected.items():
        for f in PJ.FLAGS:
            assert got[k][f] == rel[f], (k, f)


def test_poly_relate_join_no_duplicate_pairs(spark):
    out = PJ.poly_relate_join(polygons_df(spark), polygons_b_df(spark))
    n = out.count()
    assert out.select("id_a", "id_b").distinct().count() == n


def test_clip_to_rect_dataframe(spark):
    out = PJ.clip_to_rect(polygons_df(spark), -1.50007, 30.50007,
                          45.00007, 47.00007)
    rows = {r["id"]: r for r in out.collect()}
    assert 65 in rows and rows[65]["n_rings"] == 1  # L-shape, bottom cut
    assert 66 in rows and rows[66]["n_rings"] == 2  # hole survives
    assert 64 not in rows  # hexagon outside window
    assert all(r["clip_area"] > 0 for r in rows.values())


def test_erase_rings_rect_partition_invariant():
    """Σ area(erase parts) + area(clip) == area(polygon) for boxes inside,
    overlapping, containing, and disjoint from the polygon (incl. a holed
    polygon) — the exactness contract of the 4-slab decomposition."""
    import numpy as np

    from gdal_spark.spatial import geometry as G

    def ring(x0, y0, x1, y1):
        return np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float
        )

    holed = [ring(0, 0, 10, 10), ring(3, 3, 5, 5)[::-1].copy()]
    boxes = [
        (2, 2, 6, 6),       # overlaps the hole
        (-1, -1, 11, 11),   # contains everything -> no parts
        (20, 20, 30, 30),   # disjoint -> parts = original
        (4, -2, 7, 4),      # straddles the bottom edge
    ]
    for bx in boxes:
        parts = G.erase_rings_rect(holed, *bx)
        clip = G.clip_rings_rect(holed, *bx)
        part_area = sum(G.rings_area(p) for p in parts)
        clip_area = G.rings_area(clip) if clip else 0.0
        assert part_area + clip_area == pytest.approx(G.rings_area(holed))


def test_layer_overlay_rect_classes(spark):
    """Union must partition area: sum over union classes == area(A) part
    not covered + covered pieces + B-only — i.e. area(∪A ∪ ∪B) for
    interior-disjoint A and B layers; symdiff/identity/update are
    the documented subsets of the same classes."""
    from gdal_spark.queries import _OVERLAY_B_IDS

    a = polygons_df(spark).filter(F.col("poly_id") < 64)
    b = polygons_b_df(spark).filter(F.col("poly_id").isin(*_OVERLAY_B_IDS))
    rows = PJ.layer_overlay_rect(a, b, "union").collect()
    classes = {r["cls"] for r in rows}
    assert classes == {"both", "a_only", "b_only"}
    total = sum(r["area"] for r in rows)
    # area(∪A) = 64 mosaic cells x (2.0 x 1.5); area(B \ A) from the three
    # non-overlapping probe rects (corner/edge-touch + far-disjoint)
    area_a = 64 * 2.0 * 1.5
    b_free = sum(
        r["area"] for r in rows if r["cls"] == "b_only"
    )
    assert total == pytest.approx(area_a + b_free)
    sym = PJ.layer_overlay_rect(a, b, "symdifference").collect()
    assert {r["cls"] for r in sym} == {"a_only", "b_only"}
    upd = PJ.layer_overlay_rect(a, b, "update").collect()
    assert {r["cls"] for r in upd} == {"a_only", "b_update"}
    with pytest.raises(ValueError):
        PJ.layer_overlay_rect(a, b, "bogus")


class TestSubdivide:
    def test_area_conserved_and_limit(self, spark):
        import numpy as np
        from pyspark.sql import functions as F
        from gdal_spark.operators.subdivide import subdivide
        from gdal_spark.spatial import geometry as G

        # one concave 25-vertex star
        ang = np.arange(24) * (np.pi / 12.0)
        r = 0.5 * (1 + (np.arange(24) % 5) / 10.0)
        ring = np.stack([r * np.cos(ang), r * np.sin(ang)], axis=1)
        ring = np.vstack([ring, ring[:1]])
        orig_area = G.rings_area([ring])
        df = spark.createDataFrame(
            [(0, [[[float(p[0]), float(p[1])] for p in ring]])],
            "poly_id long, rings array<array<array<double>>>")
        parts = subdivide(df, max_vertices=8).toPandas()
        assert (parts["n_verts"] <= 8).all()
        assert len(parts) > 1
        total = sum(G.rings_area(G.rings_to_numpy(r))
                    for r in parts["rings"])
        assert abs(total - orig_area) < 1e-9

    def test_min_vertices_floor(self, spark):
        import pytest as _pt
        from gdal_spark.operators.subdivide import subdivide

        with _pt.raises(ValueError):
            subdivide(None, max_vertices=4)


def _box_rows(spark, boxes):
    """(poly_id, x0, y0, x1, y1) boxes → a polygon layer with envelopes."""
    return spark.createDataFrame(
        [(pid, [r.tolist() for r in rect(x0, y0, x1, y1)], x0, y0, x1, y1)
         for pid, x0, y0, x1, y1 in boxes],
        "poly_id long, rings array<array<array<double>>>, "
        "xmin double, ymin double, xmax double, ymax double",
    )


@pytest.mark.parametrize("pole", [-1.0, 1.0])
def test_pole_touching_envelopes_still_pair(spark, pole):
    """A box reaching a pole and a box (and a line) inside it are one
    candidate pair: the cell cover clamps latitudes to the Mercator limit
    (at -90 the unclamped tile math is NULL and the pair was lost)."""
    from gdal_spark.data.pages import LINE_SCHEMA

    y0, y1 = sorted((80.0 * pole, 90.0 * pole))
    a = _box_rows(spark, [(1, 10.0, y0, 20.0, y1)])
    b = _box_rows(spark, [(2, 12.0, y0 + 2.0, 15.0, y1 - 2.0)])
    rel = PJ.poly_relate_join(a, b).collect()
    assert [(r["id_a"], r["id_b"], r["contains"]) for r in rel] == [(1, 2, True)]
    inter = PJ.layer_intersection_rect(a, b).collect()
    assert [(r["id_a"], r["id_b"], r["inter_area"]) for r in inter] == [(1, 2, 18.0)]
    lines = spark.createDataFrame(
        [(7, [[13.0, 85.0 * pole], [14.0, 84.0 * pole]])], LINE_SCHEMA)
    lrel = LN.line_poly_relate_join(lines, a).collect()
    assert [(r["id_a"], r["id_b"], r["within"]) for r in lrel] == [(7, 1, True)]


@pytest.mark.parametrize("side", [-1.0, 1.0])
def test_antimeridian_crossing_envelopes_still_pair(spark, side):
    """A box reaching past lon = ±180 and a box inside it are one candidate
    pair: the cell cover clamps the envelope into the tile domain, which
    rejects a lon outside [-180, 180]."""
    x0, x1 = sorted((170.0 * side, 180.5 * side))
    a = _box_rows(spark, [(1, x0, 10.0, x1, 20.0)])
    b = _box_rows(spark, [(2, x0 + 2.0, 12.0, x1 - 2.0, 15.0)])
    rel = PJ.poly_relate_join(a, b).collect()
    assert [(r["id_a"], r["id_b"], r["contains"]) for r in rel] == [(1, 2, True)]


def _with_null_geometry(df):
    """``df`` plus a copy of its first row with id 999 and a NULL geometry
    (``rings`` or ``coords``); the envelope columns (if any) stay non-NULL."""
    id_col, geom_col = ("poly_id", "rings") if "rings" in df.columns else ("line_id", "coords")
    extra = df.limit(1).withColumn(id_col, F.lit(999).cast("long")).withColumn(
        geom_col, F.lit(None).cast(df.schema[geom_col].dataType))
    return df.unionByName(extra)


def _overlay_b(b):
    from gdal_spark.queries import _OVERLAY_B_IDS

    return b.filter(F.col("poly_id").isin(*_OVERLAY_B_IDS))


_REFINE_CALLS = {
    "poly_relate_join": lambda d: PJ.poly_relate_join(d.a, d.b),
    "poly_de9im_join": lambda d: PJ.poly_de9im_join(d.a, d.b),
    "clip_to_rect": lambda d: PJ.clip_to_rect(d.a, -180, -85, 180, 85),
    "layer_intersection_rect": lambda d: PJ.layer_intersection_rect(d.a, _overlay_b(d.b)),
    "layer_erase_area_rect": lambda d: PJ.layer_erase_area_rect(d.a, _overlay_b(d.b)),
    "layer_erase_parts_rect": lambda d: PJ.layer_erase_parts_rect(d.a, _overlay_b(d.b)),
    "layer_overlay_rect": lambda d: PJ.layer_overlay_rect(d.a, _overlay_b(d.b), "union"),
    "layer_overlay_poly": lambda d: PJ.layer_overlay_poly(d.a, d.c),
    "layer_erase_area_poly": lambda d: PJ.layer_erase_area_poly(d.a, d.c),
    "line_poly_relate_join": lambda d: LN.line_poly_relate_join(d.lines, d.a),
    "clip_lines_to_rect": lambda d: LN.clip_lines_to_rect(d.lines, -180, -85, 180, 85),
    "line_line_intersection_join": lambda d: LN.line_line_intersection_join(d.lines, d.grid),
    "line_substring": lambda d: LN.line_substring(d.lines, 0.2, 0.7),
    "hausdorff_join": lambda d: LN.hausdorff_join(d.lines, d.grid),
}


@pytest.mark.parametrize("name", sorted(_REFINE_CALLS))
def test_null_geometry_yields_no_rows(spark, name):
    """A NULL geometry with a non-NULL envelope gives no output row (it
    used to crash the Python worker): adding one to every geometry input
    leaves the output unchanged."""
    from types import SimpleNamespace

    from gdal_spark.data.pages import gridlines_df, lines_df, polygons_c_df

    plain = SimpleNamespace(
        a=polygons_df(spark).filter(F.col("poly_id") % 5 == 0),
        b=polygons_b_df(spark), c=polygons_c_df(spark),
        lines=lines_df(spark).limit(8), grid=gridlines_df(spark),
    )
    nulled = SimpleNamespace(**{k: _with_null_geometry(df) for k, df in vars(plain).items()})
    want = sorted(map(tuple, _REFINE_CALLS[name](plain).collect()))
    got = sorted(map(tuple, _REFINE_CALLS[name](nulled).collect()))
    assert want and got == want


def test_point_line_distance_non_finite_point_has_no_nearest_line(spark):
    """NULL, NaN and ±inf coordinates give NULL (line_id, seg_idx, dist,
    cx, cy); a NULL line in the line layer is skipped."""
    from gdal_spark.data.pages import LINE_SCHEMA

    lines = spark.createDataFrame(
        [(1, [[0.0, 0.0], [10.0, 0.0]]), (2, None)], LINE_SCHEMA)
    pts = spark.createDataFrame(
        [(1, 3.0, 4.0), (2, None, 1.0), (3, float("nan"), 1.0), (4, 1.0, float("inf"))],
        "o_orderkey long, lon double, lat double",
    )
    out = LN.point_line_distance_join(pts, lines, return_point=True)
    rows = {r[0]: tuple(r)[1:] for r in out.collect()}
    assert rows == {1: (1, 0, 4.0, 3.0, 0.0), **{k: (None,) * 5 for k in (2, 3, 4)}}


@pytest.mark.parametrize("layer", [[], [(2, None)]], ids=["empty", "all_null"])
def test_point_line_distance_without_lines_is_null(spark, layer):
    """An empty or all-NULL line layer gives every point NULL (line_id,
    seg_idx, dist, cx, cy)."""
    from gdal_spark.data.pages import LINE_SCHEMA

    lines = spark.createDataFrame(layer, LINE_SCHEMA)
    pts = spark.createDataFrame([(1, 3.0, 4.0), (2, None, 1.0)], "o_orderkey long, lon double, lat double")
    out = LN.point_line_distance_join(pts, lines, return_point=True)
    assert {r[0]: tuple(r)[1:] for r in out.collect()} == {k: (None,) * 5 for k in (1, 2)}


def test_hausdorff_single_vertex_line_is_a_point(spark):
    """A single-vertex line is one zero-length segment on either side; a
    line with no vertices yields no row, as a NULL line does."""
    from gdal_spark.data.pages import LINE_SCHEMA

    a = spark.createDataFrame(
        [(1, [[0.0, 0.0]]), (2, [[0.0, 3.0], [4.0, 3.0]]), (3, [])], LINE_SCHEMA)
    b = spark.createDataFrame(
        [(10, [[0.0, 0.0], [0.0, 4.0]]), (11, [[4.0, 0.0]]), (12, [])], LINE_SCHEMA)
    got = {(r["id_a"], r["id_b"]): r["hd"] for r in LN.hausdorff_join(a, b).collect()}
    assert got == {(1, 10): 4.0, (1, 11): 4.0, (2, 10): 4.0, (2, 11): 5.0}


def test_line_substring_of_zero_length_line(spark):
    """A line whose segments all have zero length cuts at its first vertex
    with sub_len_micro 0; a trailing zero-length segment does not stop a
    cut at the very end."""
    from gdal_spark.data.pages import LINE_SCHEMA

    lines = spark.createDataFrame(
        [(1, [[1.0, 1.0], [1.0, 1.0]]), (2, [[0.0, 0.0], [2.0, 0.0], [2.0, 0.0]])], LINE_SCHEMA)
    got = {r[0]: tuple(r)[1:] for r in LN.line_substring(lines, 0.5, 1.0).collect()}
    assert got == {1: (2, 1.0, 1.0, 1.0, 1.0, 0), 2: (2, 1.0, 0.0, 2.0, 0.0, 1_000_000)}
