"""General polygon boolean overlay kernel (spatial/overlay.py) — the
arbitrary-method-geometry half of OGRLayer::Intersection/Clip/Erase
(/root/reference/ogr/ogrsf_frmts/generic/ogrlayer.cpp:5386, 7538, 7847).

Hand-derived cases cover convex/concave/holed operands, shared edges,
corner touches, containment, multi-part results, and diagonal (non-
rectilinear) geometry; a sweep cross-checks the kernel against interval
arithmetic over the fixture layers' disjoint-rect decompositions.
"""

import numpy as np
import pytest

from gdal_spark.spatial.overlay import (
    overlay_area, overlay_polygons, overlay_parts_rings,
)


def rect(x0, y0, x1, y1):
    return np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=float)


def lshape(x0, y0, w, h):
    return np.array(
        [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h / 2],
         [x0 + w / 2, y0 + h / 2], [x0 + w / 2, y0 + h], [x0, y0 + h],
         [x0, y0]], dtype=float)


def area(rings_a, rings_b, op):
    return overlay_area(overlay_polygons(rings_a, rings_b, op))


CASES = [
    # (A, B, op, expected area)
    ([rect(0, 0, 4, 4)], [rect(2, 2, 6, 6)], "intersection", 4.0),
    ([rect(0, 0, 4, 4)], [rect(2, 2, 6, 6)], "difference", 12.0),
    ([rect(0, 0, 4, 4)], [rect(2, 2, 6, 6)], "union", 28.0),
    # concave subject
    ([lshape(0, 0, 4, 4)], [rect(1, 1, 5, 5)], "intersection", 5.0),
    ([lshape(0, 0, 4, 4)], [rect(1, 1, 5, 5)], "difference", 7.0),
    # concave ∩ concave
    ([lshape(0, 0, 4, 4)], [lshape(1, 1, 4, 4)], "intersection", 5.0),
    # holed subject: donut ∩ rect across the hole
    ([rect(0, 0, 6, 6), rect(2, 2, 4, 4)[::-1].copy()],
     [rect(1, 1, 5, 3)], "intersection", 6.0),
    # containment
    ([rect(0, 0, 10, 10)], [rect(3, 3, 5, 5)], "intersection", 4.0),
    ([rect(0, 0, 10, 10)], [rect(3, 3, 5, 5)], "difference", 96.0),
    # shared full edge, no interior overlap
    ([rect(0, 0, 2, 2)], [rect(2, 0, 4, 2)], "intersection", 0.0),
    ([rect(0, 0, 2, 2)], [rect(2, 0, 4, 2)], "difference", 4.0),
    ([rect(0, 0, 2, 2)], [rect(2, 0, 4, 2)], "union", 8.0),
    # partial shared edge + interior overlap
    ([rect(0, 0, 4, 4)], [rect(2, 1, 6, 3)], "intersection", 4.0),
    # corner touch only
    ([rect(0, 0, 2, 2)], [rect(2, 2, 4, 4)], "intersection", 0.0),
    ([rect(0, 0, 2, 2)], [rect(2, 2, 4, 4)], "union", 8.0),
    # diagonal edges: triangle x+y<=4 vs square [1,3]^2
    ([np.array([[0, 0], [4, 0], [0, 4], [0, 0]], dtype=float)],
     [rect(1, 1, 3, 3)], "intersection", 2.0),
    ([np.array([[0, 0], [4, 0], [0, 4], [0, 0]], dtype=float)],
     [rect(1, 1, 3, 3)], "difference", 6.0),
    ([np.array([[0, 0], [4, 0], [0, 4], [0, 0]], dtype=float)],
     [rect(1, 1, 3, 3)], "union", 10.0),
    # envelope-disjoint fast paths
    ([rect(0, 0, 1, 1)], [rect(5, 5, 6, 6)], "intersection", 0.0),
    ([rect(0, 0, 1, 1)], [rect(5, 5, 6, 6)], "union", 2.0),
]


@pytest.mark.parametrize("ra,rb,op,want", CASES)
def test_overlay_areas(ra, rb, op, want):
    assert area(ra, rb, op) == pytest.approx(want, abs=1e-12)


def test_difference_containment_makes_hole():
    parts = overlay_polygons(
        [rect(0, 0, 10, 10)], [rect(3, 3, 5, 5)], "difference")
    assert len(parts) == 1
    assert len(parts[0]) == 2  # outer + hole


def test_union_disjoint_two_parts_edge_touch_one():
    assert len(overlay_polygons(
        [rect(0, 0, 1, 1)], [rect(5, 5, 6, 6)], "union")) == 2
    # union across a shared edge dissolves it into ONE part
    assert len(overlay_polygons(
        [rect(0, 0, 2, 2)], [rect(2, 0, 4, 2)], "union")) == 1
    # corner-touch union keeps two parts (pinch split)
    assert len(overlay_polygons(
        [rect(0, 0, 2, 2)], [rect(2, 2, 4, 4)], "union")) == 2


def test_rect_through_donut_hole_splits():
    donut = [rect(0, 0, 6, 6), rect(2, 2, 4, 4)[::-1].copy()]
    bar = [rect(2.5, -1.0, 3.5, 7.0)]
    parts = overlay_polygons(donut, bar, "intersection")
    assert len(parts) == 2
    assert overlay_area(parts) == pytest.approx(4.0, abs=1e-12)


def test_b_inside_a_hole_is_empty_intersection():
    donut = [rect(0, 0, 6, 6), rect(2, 2, 4, 4)[::-1].copy()]
    inner = [rect(2.5, 2.5, 3.5, 3.5)]
    assert overlay_polygons(donut, inner, "intersection") == []
    # union keeps both: the island sits inside the hole
    parts = overlay_polygons(donut, inner, "union")
    assert overlay_area(parts) == pytest.approx(33.0, abs=1e-12)


def test_kernel_vs_interval_decomposition_sweep():
    """Every rectilinear fixture A × general method C pair: the kernel's
    intersection area equals Σ pairwise overlaps of the two disjoint-rect
    decompositions (the gate oracle's math), to float precision."""
    from collections import defaultdict

    from gdal_spark.data.pages import (
        polygon_a_rect_decomp, polygon_c_decomp, polygon_records,
        polygon_records_c,
    )
    from gdal_spark.spatial import geometry as G

    def ivl(a, b):
        return (max(0.0, min(a[2], b[2]) - max(a[0], b[0]))
                * max(0.0, min(a[3], b[3]) - max(a[1], b[1])))

    adec, cdec = defaultdict(list), defaultdict(list)
    for pid, *box in polygon_a_rect_decomp():
        adec[pid].append(tuple(box))
    for pid, *box in polygon_c_decomp():
        cdec[pid].append(tuple(box))
    arecs = {r["poly_id"]: r for r in polygon_records()
             if r["poly_id"] in adec}
    crecs = polygon_records_c()
    nonzero = 0
    for apid, arec in arecs.items():
        ra = G.rings_to_numpy(arec["rings"])
        for crec in crecs:
            want = sum(ivl(ab, cb) for ab in adec[apid]
                       for cb in cdec[crec["poly_id"]])
            got = area(ra, G.rings_to_numpy(crec["rings"]), "intersection")
            assert got == pytest.approx(want, abs=1e-9), (
                apid, crec["poly_id"])
            nonzero += want > 0
    assert nonzero >= 15  # the fixture engineers a meaningful overlap set


def test_parts_rings_flatten():
    parts = overlay_polygons(
        [rect(0, 0, 10, 10)], [rect(3, 3, 5, 5)], "difference")
    assert len(overlay_parts_rings(parts)) == 2


def test_layer_overlay_poly_plan_no_cartesian(spark):
    """Distributed plan: cell-cover equi-join only (no CartesianProduct /
    BroadcastNestedLoopJoin), refine inside one Arrow UDF."""
    import io
    from contextlib import redirect_stdout

    from gdal_spark.data.pages import polygons_c_df, polygons_df
    from gdal_spark.operators.poly_join import layer_overlay_poly

    out = layer_overlay_poly(
        polygons_df(spark), polygons_c_df(spark), "intersection", zoom=5)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "ArrowEvalPython" in p
