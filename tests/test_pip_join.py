"""End-to-end spatial join tests: every ``pip_join`` mode vs a pure-Python
oracle over the deterministic pages + polygons fixtures."""

import gc
import os
import struct
import subprocess
import sys
import threading
import weakref
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gdal_spark.data import pages as P
from gdal_spark.data.geotag import py_lonlat
from gdal_spark.operators import pip_join as PJ
from gdal_spark.spatial import geometry as G

N_PAGES = 2000


@pytest.fixture(scope="module")
def fixtures(spark):
    pts = P.pages_df(spark, N_PAGES).select("i", "url", "lon", "lat").cache()
    polys = P.polygons_df(spark)
    return pts, polys


def oracle_pairs(n, recs=None):
    recs = P.polygon_records() if recs is None else recs
    parsed = [
        (r["poly_id"], [np.asarray(ring) for ring in r["rings"]]) for r in recs
    ]
    pairs = set()
    for i in range(n):
        lon, lat = py_lonlat(i)
        for pid, rings in parsed:
            xmin, ymin, xmax, ymax = G.rings_envelope(rings)
            if xmin <= lon <= xmax and ymin <= lat <= ymax:
                if G.points_in_polygon(np.array([lon]), np.array([lat]), rings)[0]:
                    pairs.add((i, pid))
    return pairs


@pytest.fixture(scope="module")
def expected():
    return oracle_pairs(N_PAGES)


# every (how, first_match) of pip_join
MODES = [(how, fm) for how in ("inner", "left") for fm in (False, True)]


def _pairs(out):
    return Counter((r["i"], r["poly_id"]) for r in out.select("i", "poly_id").collect())


def want_rows(pairs, ids, how, first_match):
    """Oracle output rows (point id, poly_id) for a join mode: min poly_id
    per point under first_match, a NULL row per unmatched point under left."""
    if first_match:
        best = {}
        for i, pid in pairs:
            best[i] = min(best.get(i, pid), pid)
        pairs = best.items()
    rows = Counter(pairs)
    if how == "left":
        matched = {i for i, _ in rows}
        rows.update((i, None) for i in ids if i not in matched)
    return rows


@pytest.fixture(scope="module")
def layers(spark, fixtures, expected):
    """Polygon layers with their oracle pairs: the fixture; no polygons at
    all; the fixture with a NULL and an empty geometry mixed in, which
    never match."""
    _, polys = fixtures
    recs = P.polygon_records()
    recs.insert(5, dict(recs[0], poly_id=900, rings=None))
    recs.append(dict(recs[0], poly_id=901, rings=[]))
    return {
        "fixture": (polys, expected),
        "empty": (spark.createDataFrame([], P.POLYGON_SCHEMA), set()),
        "null_rings": (spark.createDataFrame(recs, P.POLYGON_SCHEMA), expected),
    }


# every mode on every layer; the fixture layer keeps the bare mode id
# (e.g. ``pip_join-inner-False``)
ORACLE_CASES = [
    pytest.param(
        how, fm, layer,
        id=f"pip_join-{how}-{fm}" + ("" if layer == "fixture" else f"-{layer}"),
    )
    for layer in ("fixture", "empty", "null_rings")
    for how, fm in MODES
]


@pytest.mark.parametrize("how,first_match,layer", ORACLE_CASES)
def test_pip_join_matches_oracle(fixtures, layers, how, first_match, layer):
    pts, _ = fixtures
    polys, pairs = layers[layer]
    out = PJ.pip_join(pts, polys, how=how, first_match=first_match)
    got = _pairs(out)
    assert got == want_rows(pairs, range(N_PAGES), how, first_match)
    assert pairs or layer == "empty"  # hot-cell rows guarantee matches


def _bits(v):
    return None if v is None else struct.pack("<d", v)


def test_pip_join_passes_nan_and_inf_through(spark, expected):
    """Pass-through doubles (NaN, ±inf, -0.0) come back bit-identical in all
    four modes; NULL / NaN / ±inf coordinates never match, so they yield a
    NULL poly_id under left and no row under inner."""
    nan, inf = float("nan"), float("inf")
    lon0, lat0 = py_lonlat(0)  # hot cell: inside the fixture polygons
    rows = [
        (0, lon0, lat0, nan),
        (1, lon0, lat0, inf),
        (2, lon0, lat0, -inf),
        (3, lon0, lat0, -0.0),
        (4, None, lat0, nan),
        (5, lon0, None, 1.0),
        (6, nan, lat0, 2.0),
        (7, lon0, nan, inf),
        (8, inf, lat0, 3.0),
        (9, -inf, -inf, nan),
        (10, lon0, inf, -inf),
    ]
    pts = spark.createDataFrame(rows, "i long, lon double, lat double, v double")
    hits = [(i, pid) for i in range(4) for (j, pid) in expected if j == 0]
    assert hits
    by_i = {r[0]: r for r in rows}
    for how in ("inner", "left"):
        for first_match in (False, True):
            out = PJ.pip_join(pts, P.polygons_df(spark), how=how, first_match=first_match)
            got = Counter(
                (r["i"], r["poly_id"], _bits(r["lon"]), _bits(r["lat"]), _bits(r["v"]))
                for r in out.collect()
            )
            want = Counter(
                (i, pid, *map(_bits, by_i[i][1:]))
                for i, pid in want_rows(hits, by_i, how, first_match).elements()
            )
            assert got == want, (how, first_match)


def test_pip_join_rejects_unknown_how(fixtures):
    pts, polys = fixtures
    for how in ("right", "outer", "LEFT", "full", None):
        with pytest.raises(ValueError, match="how"):
            PJ.pip_join(pts, polys, how=how)


def test_empty_index_probes_to_no_matches():
    index = PJ.PolygonIndex.from_rows([])
    assert index.boxes.shape == (0, 4)
    pt, poly = index.probe(np.array([0.0, 2.35]), np.array([0.0, 48.85]), first_match=False)
    assert pt.size == 0 and poly.size == 0


def test_index_built_and_broadcast_once_per_polygons_frame(spark, fixtures, expected, monkeypatch):
    """Every mode on one polygons DataFrame shares one index build and one
    broadcast; results stay exact."""
    builds = []
    real_build = PJ.build_polygon_index

    def counting_build(polygons):
        builds.append(1)
        return real_build(polygons)

    broadcasts = []
    real_broadcast = PJ._index_broadcast

    def recording_broadcast(polygons):
        bc = real_broadcast(polygons)
        broadcasts.append(bc._jbroadcast.id())
        return bc

    monkeypatch.setattr(PJ, "build_polygon_index", counting_build)
    monkeypatch.setattr(PJ, "_index_broadcast", recording_broadcast)
    pts, _ = fixtures
    polys = P.polygons_df(spark)
    for how, first_match in MODES:
        out = PJ.pip_join(pts, polys, how=how, first_match=first_match)
        got = _pairs(out)
        assert got == want_rows(expected, range(N_PAGES), how, first_match), (how, first_match)
    assert len(builds) == 1
    assert len(broadcasts) == len(MODES) and len(set(broadcasts)) == 1


def test_reread_of_overwritten_layer_gets_a_new_index(spark, fixtures, tmp_path):
    """The index is a snapshot per DataFrame object: re-reading a parquet
    path after it was overwritten with other polygons (which plans the
    same) follows the new polygons."""
    pts, _ = fixtures
    path = str(tmp_path / "layer.parquet")
    recs = P.polygon_records()
    # the second layer: every other polygon, under new ids
    recs_b = [dict(r, poly_id=r["poly_id"] + 1000) for r in recs[::2]]
    for layer in (recs, recs_b):
        spark.createDataFrame(layer, P.POLYGON_SCHEMA).write.mode("overwrite").parquet(path)
        polys = spark.read.parquet(path)
        for how in ("inner", "left"):
            out = PJ.pip_join(pts, polys, how=how)
            got = _pairs(out)
            assert got == want_rows(oracle_pairs(N_PAGES, layer), range(N_PAGES), how, False)


def test_index_entry_dropped_with_its_frame(spark, fixtures):
    pts, _ = fixtures
    polys = P.polygons_df(spark)
    assert PJ.pip_join(pts, polys).count() > 0
    bc = PJ._INDEXES[polys]
    ref = weakref.ref(polys)
    del polys
    gc.collect()
    assert ref() is None
    assert all(v is not bc for v in PJ._INDEXES.values())


def test_index_is_a_snapshot_never_refreshed_after_a_write(spark, fixtures, expected, tmp_path):
    """One ``spark.table`` object reused across an INSERT keeps serving the
    polygons it held at its first PIP call, although
    Spark itself shows the object the new rows; a new read of the table
    gets a new index that holds them."""
    pts, _ = fixtures
    first = [{"poly_id": r["poly_id"], "rings": r["rings"]} for r in P.polygon_records()]
    # the insert: a copy, under a new id, of every feature that matches
    hit_ids = {pid for _, pid in expected}
    added = [dict(r, poly_id=r["poly_id"] + 1000) for r in first if r["poly_id"] in hit_ids]
    schema = "poly_id long, rings array<array<array<double>>>"
    spark.sql("DROP TABLE IF EXISTS pip_snapshot")
    spark.sql(f"CREATE TABLE pip_snapshot ({schema}) USING parquet LOCATION '{tmp_path}'")
    try:
        spark.createDataFrame(first, schema).write.insertInto("pip_snapshot")
        polys = spark.table("pip_snapshot")
        want_first = want_rows(expected, range(N_PAGES), "inner", False)
        assert _pairs(PJ.pip_join(pts, polys)) == want_first

        spark.createDataFrame(added, schema).write.insertInto("pip_snapshot")
        assert polys.count() == len(first) + len(added)
        assert _pairs(PJ.pip_join(pts, polys)) == want_first

        reread = spark.table("pip_snapshot")
        want_all = want_rows(oracle_pairs(N_PAGES, first + added), range(N_PAGES), "inner", False)
        assert sum(want_all.values()) == 2 * sum(want_first.values())
        assert _pairs(PJ.pip_join(pts, reread)) == want_all
    finally:
        spark.sql("DROP TABLE IF EXISTS pip_snapshot")


def test_index_builds_run_outside_the_cache_lock(spark, monkeypatch):
    """Two threads build the indexes of two layers at the same time (each
    build waits for the other), and two threads racing on one layer end up
    with one broadcast."""
    barrier = threading.Barrier(2, timeout=10)

    def blocking_build(polygons):
        barrier.wait()
        return PJ.PolygonIndex.from_rows([])

    monkeypatch.setattr(PJ, "build_polygon_index", blocking_build)

    def in_two_threads(frames):
        with ThreadPoolExecutor(2) as pool:
            return list(pool.map(PJ._index_broadcast, frames))

    a, b, c = (spark.createDataFrame([], P.POLYGON_SCHEMA) for _ in range(3))
    bc_a, bc_b = in_two_threads([a, b])
    assert bc_a is not bc_b
    assert PJ._INDEXES[a] is bc_a and PJ._INDEXES[b] is bc_b
    bc_1, bc_2 = in_two_threads([c, c])
    assert bc_1 is bc_2 is PJ._INDEXES[c]


def test_pip_join_import_loads_no_other_operator():
    """A worker that unpickles a PIP UDF imports gdal_spark.operators.pip_join;
    that must not drag in every other operator module."""
    code = (
        "import sys, gdal_spark.operators.pip_join; "
        "print(sorted(m for m in sys.modules if m.startswith('gdal_spark.operators.')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))), timeout=120,
    ).stdout
    assert out.strip() == "['gdal_spark.operators.pip_join']"


def test_hot_cell_is_actually_hot(fixtures):
    pts, _ = fixtures
    hot = pts.filter((F.col("i") % 100) == 0).count()
    assert hot == N_PAGES // 100


def test_pages_text_invariant_vs_generator(spark):
    # text column == extractor spec (title + \n + body) — byte identical
    rows = P.pages_df(spark, 50).select("i", "text", "html").collect()
    for r in rows:
        assert r["text"] == P.page_text(r["i"])
        assert bytes(r["html"]) == P.page_html(r["i"])


def test_multipolygon_pip_both_strategies(spark):
    """MultiPolygon features flow through every ``pip_join`` mode with
    identical results: a point in either part matches the feature once
    (also where two parts of one feature overlap); points in the hole do
    not match."""
    from gdal_spark.data.pages import MULTIPOLYGON_SCHEMA, multipolygons_df

    pts = spark.createDataFrame(
        [
            (1, 14.0, 44.0),    # inside mp0 part 1
            (2, 22.0, 44.0),    # inside mp0 part 2
            (3, 18.0, 44.0),    # between the parts -> no match
            (4, -19.0, 11.0),   # inside mp1 holey part (not in hole)
            (5, -17.0, 13.0),   # inside mp1's hole -> no match
            (6, -28.0, 12.0),   # inside mp1 plain part
            (7, 0.0, 0.0),      # on a corner of feature 7 only -> no match
            (8, 1.5, 1.5),      # inside BOTH overlapping parts of feature 7
        ],
        "i long, lon double, lat double",
    )

    def square(x0, x1):
        return [[[x0, x0], [x1, x0], [x1, x1], [x0, x1], [x0, x0]]]

    overlapping = spark.createDataFrame(
        [(7, [square(0.0, 2.0), square(1.0, 3.0)], 0.0, 0.0, 3.0, 3.0)],
        MULTIPOLYGON_SCHEMA,
    )
    mp = multipolygons_df(spark).unionByName(overlapping)
    want = {1: 2000, 2: 2000, 4: 2001, 6: 2001, 8: 7}
    for how, first_match in MODES:
        out = PJ.pip_join(pts, mp, how=how, first_match=first_match)
        got = Counter((r["i"], r["poly_id"]) for r in out.collect())
        assert got == want_rows(want.items(), range(1, 9), how, first_match), (
            how, first_match)


# ---------------------------------------------------------------------------
# The index kernel against G.points_in_polygon run on every part
# ---------------------------------------------------------------------------

def full_scan(parts, px, py) -> set:
    """Naive reference: for every ``(poly_id, box, rings)`` part, the box
    test, then ``G.points_in_polygon`` on its rings; (point, poly_id) pairs."""
    pairs = set()
    for pid, (xmin, ymin, xmax, ymax), rings in parts:
        box = np.flatnonzero((px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax))
        pairs |= {(int(i), int(pid)) for i in box[G.points_in_polygon(px[box], py[box], rings)]}
    return pairs


def assert_kernel_matches(recs, px, py):
    """``probe`` in both modes gives exactly the full-scan pairs, and so do
    the index's own ``rings_list``."""
    idx = PJ.PolygonIndex.from_rows(recs)
    want = full_scan([(r["poly_id"], G.rings_envelope(part), part)
                      for r in recs for part in PJ._feature_parts(r["rings"])], px, py)
    pt, poly = idx.probe(px, py, first_match=False)
    assert list(zip(pt.tolist(), poly.tolist())) == sorted(want)
    pt, poly = idx.probe(px, py, first_match=True)
    best = {}
    for i, pid in want:
        best[i] = min(best.get(i, pid), pid)
    assert list(zip(pt.tolist(), poly.tolist())) == sorted(best.items())
    assert full_scan(zip(idx.poly_ids, idx.boxes, idx.rings_list), px, py) == want


def test_probe_matches_full_scan_on_fixture():
    """The 75-part fixture, 5000 seeded points over its window."""
    rng = np.random.default_rng(3)
    px = rng.uniform(-20, 50, 5000)
    py = rng.uniform(30, 60, 5000)
    assert_kernel_matches(P.polygon_records(), px, py)


def test_probe_on_empty_one_part_and_overlapping_layers():
    square = [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]
    shifted = [[x + 1.0, y + 1.0] for x, y in square]
    g = np.arange(-1.0, 3.5, 0.5)
    px, py = (a.ravel() for a in np.meshgrid(g, g))
    for recs in ([], [{"poly_id": 1, "rings": [square]}],
                 [{"poly_id": 7, "rings": [[square], [shifted]]},
                  {"poly_id": 3, "rings": [shifted, square]}]):
        assert_kernel_matches(recs, px, py)


@st.composite
def layer_and_points(draw):
    """A small layer on a lattice (so points can sit exactly on vertices
    and edges), with short, unclosed and repeated-vertex rings, holes
    anywhere and overlapping MultiPolygon parts; and points on vertices,
    edge midpoints, lattice nodes, the grid's cell and band boundaries and
    its outer edge, plus NaN and ±inf."""
    step = draw(st.sampled_from([1.0, 0.5, 0.1, 1e-3, 7.0]))
    x0, y0 = draw(st.sampled_from([(0.0, 0.0), (100.0, 10.0), (-170.0, -45.0)]))
    node = st.tuples(st.integers(-4, 4), st.integers(-4, 4))

    def ring():
        pts = draw(st.lists(node, min_size=1, max_size=7))
        if draw(st.booleans()):
            pts.insert(draw(st.integers(0, len(pts) - 1)), pts[0])  # repeated vertex
        if draw(st.integers(0, 4)):
            pts.append(pts[0])  # closed, mostly
        return [[x0 + i * step, y0 + j * step] for i, j in pts]

    def polygon():
        return [ring() for _ in range(draw(st.integers(1, 3)))]

    recs = []
    for pid in draw(st.lists(st.integers(0, 40), unique=True, max_size=5)):
        rings = polygon() if draw(st.booleans()) else [
            polygon() for _ in range(draw(st.integers(1, 3)))]
        recs.append({"poly_id": pid, "rings": rings})

    verts = np.array([v for r in recs for part in PJ._feature_parts(r["rings"])
                      for ring_ in part for v in ring_] or [[x0, y0]])
    mids = (verts[1:] + verts[:-1]) / 2.0
    nodes = np.array(draw(st.lists(node, max_size=20)) or [(0, 0)]) * (step / 2.0) + (x0, y0)
    idx = PJ.PolygonIndex.from_rows(recs)
    (gx, sx, nx), (gy, sy, ny) = idx._grid
    bx, by = gx + np.arange(nx + 1) / sx, gy + np.arange(ny + 1) / sy
    on_grid = np.concatenate([
        np.stack(np.broadcast_arrays(bx[:, None], verts[None, :8, 1]), -1).reshape(-1, 2),
        np.stack(np.broadcast_arrays(verts[None, :8, 0], by[:, None]), -1).reshape(-1, 2),
    ])
    odd = [float("nan"), float("inf"), -float("inf"), x0]
    special = np.array([(a, b) for a in odd for b in odd + [y0]])
    pts = np.concatenate([verts, mids, nodes, on_grid, special])
    return recs, pts[:, 0].copy(), pts[:, 1].copy()


@settings(max_examples=150, deadline=None)
@given(layer_and_points())
def test_kernel_matches_points_in_polygon(case):
    assert_kernel_matches(*case)
