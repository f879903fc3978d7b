"""`gdal vector pipeline` step facade."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark import pipeline as P
from gdal_spark.data.pages import pages_df, polygons_df
from gdal_spark.spatial import geometry as G
from gdal_spark.spatial import tilemath as TM


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, 500)


def test_filter_select_limit(spark, pages):
    out = P.limit_rows(
        P.select_fields(P.filter_expr(pages, "lang = 'en'"), "i", "url"), 10
    )
    rows = out.collect()
    assert len(rows) == 10
    assert set(rows[0].asDict().keys()) == {"i", "url"}


def test_execute_sql(spark, pages):
    out = P.execute_sql(
        spark, "SELECT lang, count(*) AS n FROM pages GROUP BY lang",
        pages=pages,
    )
    assert out.count() == 10


def test_sort_spatial_clusters(spark, pages):
    out = P.sort_spatial(pages.select("i", "lon", "lat"), zoom=8)
    assert out.count() == 500

    # the row order is a sort on the quadkey string, over one nibble word
    # (zoom 8) and over two (zoom 20), NULL and out-of-domain rows included
    odd = spark.createDataFrame(
        [(-1, None, 1.0), (-2, 190.0, 1.0), (-3, float("nan"), 1.0),
         (-4, -180.0, 90.0), (-5, 180.0, -90.0)], "i long, lon double, lat double")
    frame = pages.select("i", "lon", "lat").unionByName(odd)

    def with_key(df, zoom):
        tx, ty = TM.lonlat_to_tile(F.col("lon"), F.col("lat"), zoom)
        return df.select(TM.quadkey(tx, ty, zoom).alias("qk"))

    for zoom in (8, 20):
        got = [r.qk for r in with_key(P.sort_spatial(frame, zoom=zoom), zoom).collect()]
        want = [r.qk for r in with_key(frame, zoom).orderBy(F.asc_nulls_first("qk")).collect()]
        assert len(got) == 505 and got == want


def test_reproject_roundtrip(spark, pages):
    m = P.reproject_3857(pages.select("i", "lon", "lat"))
    back = P.reproject_4326(m.drop("lon", "lat"))
    joined = back.join(
        pages.select("i", F.col("lon").alias("lon0"), F.col("lat").alias("lat0")),
        "i",
    )
    bad = joined.filter(
        (F.abs(F.col("lon") - F.col("lon0")) > 1e-9)
        | (F.abs(F.col("lat") - F.col("lat0")) > 1e-9)
    ).count()
    assert bad == 0


def test_swap_xy(spark, pages):
    out = P.swap_xy(pages.select("i", "lon", "lat"))
    r = out.filter(F.col("i") == 1).first()
    orig = pages.filter(F.col("i") == 1).first()
    assert r["lon"] == orig["lat"] and r["lat"] == orig["lon"]


def test_make_point_wkb(spark, pages):
    out = P.make_point(pages.select("i", "lon", "lat").limit(5))
    for r in out.collect():
        kind, (x, y) = G.parse_wkb(bytes(r["wkb"]))
        assert kind == "point"
        assert x == r["lon"] and y == r["lat"]


def test_explode_collections(spark):
    multi = G.wkb_multipolygon([
        [np.array([[0, 0], [1, 0], [1, 1], [0, 0]], dtype=float)],
        [np.array([[5, 5], [6, 5], [6, 6], [5, 5]], dtype=float)],
    ])
    df = spark.createDataFrame([(1, bytearray(multi))], "fid long, wkb binary")
    out = P.explode_collections(df).collect()
    assert len(out) == 2
    assert {r["poly_idx"] for r in out} == {0, 1}
    for r in out:
        kind, rings = G.parse_wkb(bytes(r["wkb"]))
        assert kind == "polygon"


def test_segmentize_and_simplify(spark, polys=None):
    df = spark.createDataFrame(
        [(0, [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 0.0]]])],
        "poly_id long, rings array<array<array<double>>>",
    )
    seg = P.segmentize(df, max_len=1.0).collect()[0]["rings"][0]
    assert len(seg) > 20  # vertices inserted
    # max segment length respected
    arr = np.asarray(seg)
    seglens = np.hypot(*(arr[1:] - arr[:-1]).T)
    assert seglens.max() <= 1.0 + 1e-9
    # simplify undoes the densification (collinear points dropped)
    dense_df = spark.createDataFrame(
        [(0, [[list(map(float, p)) for p in seg]])],
        "poly_id long, rings array<array<array<double>>>",
    )
    simp = P.simplify(dense_df, tolerance=1e-9).collect()[0]["rings"][0]
    assert len(simp) == 4


def test_concat_layers(spark, pages):
    a = pages.select("i", "url").limit(5)
    b = pages.select("i", "lang").limit(5)
    out = P.concat_layers(a, b)
    assert out.count() == 10
    assert set(out.columns) == {"i", "url", "lang"}


def test_write_partitioned_prunes(spark, pages, tmp_path):
    path = str(tmp_path / "part")
    P.write_partitioned(pages.select("i", "lang", "url"), path, "lang")
    back = spark.read.parquet(path).filter(F.col("lang") == "en")
    assert back.count() == 50
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or back.rdd.getNumPartitions() <= 4

def test_clip_step_drops_and_clips(spark):
    from gdal_spark.data.pages import polygons_df
    from gdal_spark import pipeline as P
    from gdal_spark.spatial import geometry as G

    p = polygons_df(spark).select("poly_id", "rings")
    out = P.clip(p, -1.50007, 30.50007, 45.00007, 47.00007)
    rows = {r["poly_id"]: r["rings"] for r in out.collect()}
    assert 64 not in rows          # hexagon fully outside
    assert 66 in rows and len(rows[66]) == 2  # hole survives
    for rings in rows.values():
        for ring in G.rings_to_numpy(rings):
            assert ring[:, 0].min() >= -1.50007 - 1e-9
            assert ring[:, 0].max() <= 45.00007 + 1e-9


def test_buffer_convex_area(spark):
    """Round-join convex buffer: area(buffered square) ≈ A + P·d + π·d²
    (GEOS semantics with quad_segs arc discretization)."""
    import math

    from gdal_spark import pipeline as P
    from gdal_spark.spatial import geometry as G

    df = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]])],
        "poly_id long, rings array<array<array<double>>>",
    )
    out = P.buffer(df, 1.0, quad_segs=32).collect()
    rings = G.rings_to_numpy(out[0]["rings"])
    area = G.rings_area(rings)
    expected = 16 + 16 * 1.0 + math.pi
    assert abs(area - expected) < 0.02


def test_make_valid_fixes_structure(spark):
    from gdal_spark import pipeline as P
    from gdal_spark.spatial import geometry as G

    # unclosed CW exterior with a duplicate vertex + degenerate ring
    bad = [
        [[0.0, 0.0], [0.0, 2.0], [0.0, 2.0], [2.0, 2.0], [2.0, 0.0]],  # CW, open, dup
        [[5.0, 5.0], [5.0, 5.0], [5.0, 5.0]],                          # degenerate
    ]
    df = spark.createDataFrame(
        [(1, bad)], "poly_id long, rings array<array<array<double>>>"
    )
    out = P.make_valid(df).collect()
    rings = G.rings_to_numpy(out[0]["rings"])
    assert len(rings) == 1
    r = rings[0]
    assert (r[0] == r[-1]).all()
    x, y = r[:, 0], r[:, 1]
    assert 0.5 * float((x[:-1] * y[1:] - x[1:] * y[:-1]).sum()) > 0  # CCW now


def test_convex_hull_of_l_shape(spark):
    from gdal_spark import pipeline as P
    from gdal_spark.spatial import geometry as G

    lshape = [[[0.0, 0.0], [4.0, 0.0], [4.0, 2.0], [2.0, 2.0], [2.0, 4.0],
               [0.0, 4.0], [0.0, 0.0]]]
    df = spark.createDataFrame(
        [(1, lshape)], "poly_id long, rings array<array<array<double>>>"
    )
    out = P.convex_hull(df).collect()
    hull = G.rings_to_numpy(out[0]["rings"])[0]
    assert G.rings_area([hull]) == 14.0  # 16 minus the 2x2 corner triangle... no: hull adds it back minus triangle


def test_check_geometry_flags(spark):
    from gdal_spark import pipeline as P

    good = [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]]
    bowtie = [[[0.0, 0.0], [2.0, 2.0], [2.0, 0.0], [0.0, 2.0], [0.0, 0.0]]]
    df = spark.createDataFrame(
        [(1, good), (2, bowtie)],
        "poly_id long, rings array<array<array<double>>>",
    )
    rows = {r["poly_id"]: r for r in P.check_geometry(df).collect()}
    assert rows[1]["is_closed"] and rows[1]["exterior_ccw"]
    assert not rows[1]["self_intersects"]
    assert rows[2]["self_intersects"]


def test_schema_steps(spark):
    from gdal_spark import pipeline as P

    df = spark.createDataFrame([(1, "2.5")], "a long, b string")
    out = P.set_field_type(df, "b", "double")
    assert dict(out.dtypes)["b"] == "double"
    out2 = P.rename_fields(df, b="c")
    assert "c" in out2.columns and "b" not in out2.columns
    assert '"a"' in P.export_schema(df)
    inf = P.info(df)
    assert inf["feature_count"] == 1 and inf["fields"] == ["a", "b"]


def test_combine_update_edit_steps(spark):
    from gdal_spark import pipeline as P

    df = spark.createDataFrame(
        [
            (1, 10, [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]]),
            (2, 10, [[[2.0, 0.0], [3.0, 0.0], [3.0, 1.0], [2.0, 1.0], [2.0, 0.0]]]),
            (3, 20, [[[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 6.0], [5.0, 5.0]]]),
        ],
        "fid long, grp long, rings array<array<array<double>>>",
    )
    comb = {r["grp"]: r["rings"] for r in P.combine(df, "grp").collect()}
    assert len(comb[10]) == 2 and len(comb[20]) == 1  # parts per feature

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    ups = spark.createDataFrame([(2, "B"), (3, "C")], "k long, v string")
    got = {r["k"]: r["v"] for r in P.update(base, ups, "k").collect()}
    assert got == {1: "a", 2: "B", 3: "C"}

    ed = P.edit_fields(base, v="upper(v)", w="k * 2")
    rows = {r["k"]: (r["v"], r["w"]) for r in ed.collect()}
    assert rows[1] == ("A", 2)

    tagged = P.set_geom_type(df, "MULTIPOLYGON")
    assert tagged.first()["geom_type"] == "MULTIPOLYGON"


def test_check_coverage_valid_and_overlapping(spark):
    from gdal_spark import pipeline as P

    rect = lambda x0, y0, x1, y1: [
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
    ]
    rows = [
        (100, rect(0.0, 0.0, 1.0, 1.0)),
        (100, rect(1.0, 0.0, 2.0, 1.0)),   # edge-matched: valid
        (200, rect(0.0, 0.0, 2.0, 1.0)),
        (200, rect(1.0, 0.0, 3.0, 1.0)),   # overlapping: invalid
    ]
    df = spark.createDataFrame(
        rows, "grp long, rings array<array<array<double>>>"
    )
    got = {r["grp"]: r for r in P.check_coverage(df, "grp").collect()}
    assert got[100]["is_valid_coverage"]
    assert not got[200]["is_valid_coverage"]
    assert got[200]["n_overlap_pairs"] == 1
    assert got[100]["sum_area"] == pytest.approx(2.0)


def test_create_and_rename_layer(spark):
    from gdal_spark import pipeline as P

    empty = P.create_layer(spark, "a long, b string")
    assert empty.count() == 0 and empty.columns == ["a", "b"]

    spark.createDataFrame([(1,)], "x long").createOrReplaceTempView("lyr_old")
    P.rename_layer(spark, "lyr_old", "lyr_new")
    assert spark.table("lyr_new").count() == 1
    import pytest as _pt
    with _pt.raises(Exception):
        spark.table("lyr_old")


# ---------------------------------------------------------------------------
# buffer_full: concave exteriors, hole erosion, winding-boundary extraction
# ---------------------------------------------------------------------------

def _close(*pts):
    import numpy as np
    a = np.asarray(pts, dtype=np.float64)
    return np.vstack([a, a[:1]])


def _grid_buffer_area(rings, d, lo=-2.0, hi=8.0, step=0.02):
    """Reference area of {x : dist(x, polygon) <= d} by dense grid."""
    import numpy as np

    from gdal_spark.spatial import geometry as G
    gx, gy = np.meshgrid(np.arange(lo, hi, step), np.arange(lo, hi, step))
    px, py = gx.ravel(), gy.ravel()
    inside = np.zeros(px.shape, dtype=bool)
    for r in rings:
        inside ^= G.points_in_ring(px, py, r)
    sd = np.full(px.shape, np.inf)
    for r in rings:
        ax, ay = r[:-1, 0], r[:-1, 1]
        bx, by = r[1:, 0], r[1:, 1]
        ex, ey = (bx - ax)[None, :], (by - ay)[None, :]
        l2 = ex * ex + ey * ey
        t = np.clip(((px[:, None] - ax[None, :]) * ex
                     + (py[:, None] - ay[None, :]) * ey) / l2, 0, 1)
        dx = px[:, None] - (ax[None, :] + t * ex)
        dy = py[:, None] - (ay[None, :] + t * ey)
        sd = np.minimum(sd, np.sqrt(dx * dx + dy * dy).min(axis=1))
    return float((inside | (sd <= d)).sum()) * step * step


def test_buffer_full_concave_shapes_match_distance_definition():
    import numpy as np

    from gdal_spark.pipeline import _buffer_polygon, _signed_area
    d = 0.45
    cases = [
        [_close((0, 0), (4, 0), (4, 1), (1, 1), (1, 3), (0, 3))],      # L
        [_close((0, 0), (5, 0), (5, 3), (4, 3), (4, 1), (1, 1),
                (1, 3), (0, 3))],                                       # U
        [_close((0, 0), (2, 1), (4, 0), (3, 2), (4, 4), (2, 3),
                (0, 4), (1, 2))],                                       # star
    ]
    for rings in cases:
        out = _buffer_polygon(rings, d, 8)
        assert len(out) == 1  # single outer ring, no spurious lobes
        area = sum(_signed_area(r) for r in out)
        ref = _grid_buffer_area(rings, d)
        # inscribed arcs -> slightly below truth; grid noise ~step*perimeter
        assert abs(area - ref) / ref < 0.005


def test_buffer_full_hole_erodes_exactly():
    from gdal_spark.pipeline import _buffer_polygon, _signed_area
    d = 0.45
    ext = _close((0, 0), (6, 0), (6, 6), (0, 6))
    hole = _close((2, 2), (2, 4), (4, 4), (4, 2))  # CW
    out = _buffer_polygon([ext, hole], d, 8)
    areas = sorted(_signed_area(r) for r in out)
    # erosion of a 2x2 square hole by d = (2-2d)^2, SHARP corners (exact)
    assert abs(areas[0] - (-(2 - 2 * d) ** 2)) < 1e-9
    assert areas[1] > 36  # dilated exterior


def test_buffer_full_hole_vanishes_when_too_small():
    from gdal_spark.pipeline import _buffer_polygon, _signed_area
    ext = _close((0, 0), (6, 0), (6, 6), (0, 6))
    tiny = _close((2, 2), (2, 2.6), (2.6, 2.6), (2.6, 2))
    out = _buffer_polygon([ext, tiny], 0.45, 8)
    assert len(out) == 1 and _signed_area(out[0]) > 36


def test_buffer_full_convex_matches_closed_form():
    import numpy as np

    from gdal_spark.pipeline import _buffer_polygon, _signed_area
    d, q = 0.5, 8
    sq = _close((0, 0), (4, 0), (4, 4), (0, 4))
    out = _buffer_polygon([sq], d, q)
    want = 16 + 16 * d + 2 * d * d * (2 * q) * np.sin(np.pi / (2 * 2 * q))
    # closed form for the inscribed-arc discretization: A + P d +
    # sum of corner fans = 4 * (quarter-circle fan of q segments)
    fan = 4 * (0.5 * d * d * q * np.sin((np.pi / 2) / q))
    assert abs(sum(_signed_area(r) for r in out) - (16 + 16 * d + fan)) < 1e-9


def test_buffer_full_step_in_pipeline(spark):
    rows = [(1, [[[0.0, 0.0], [4.0, 0.0], [4.0, 1.0], [1.0, 1.0],
                  [1.0, 3.0], [0.0, 3.0], [0.0, 0.0]]])]
    df = spark.createDataFrame(rows, "fid long, rings array<array<array<double>>>")
    out = P.run_serialized(
        {"input": "a", "pipeline": [{"step": "buffer-full", "distance": 0.45}]},
        a=df,
    )
    got = out.collect()[0]["rings"]
    assert len(got) == 1 and len(got[0]) > 10  # arcs added, single ring
