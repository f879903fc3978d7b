"""Property-based tests (hypothesis) — the reference's autotest suite leans
heavily on randomized/parametrized geometry and transform cases
(autotest/ogr/ogr_geom.py, autotest/osr/osr_proj4.py); these mirror that
strategy for the pure-python kernels the engine's Column/Arrow code shares.

Most properties run WITHOUT a SparkSession (numpy/python level), so they
are cheap enough to fuzz hundreds of cases per run. The tile-math
properties at the end check Spark column math: each example is a batch of
rows evaluated in one job, so they run fewer examples.
"""

import math
import os
import sys

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gdal_spark.functions.rounding import np_stable_round  # noqa: E402
from gdal_spark.spatial import crs  # noqa: E402
from gdal_spark.spatial import geometry as G  # noqa: E402

finite_lon = st.floats(min_value=-179.9, max_value=179.9, allow_nan=False)
finite_lat = st.floats(min_value=-84.0, max_value=84.0, allow_nan=False)


# ---------------------------------------------------------------------------
# WKB codec: encode -> parse round-trips bit-exactly (ogr wkb import/export
# pairs, ogr/ogrgeometry.cpp WkbSize/exportToWkb contracts)
# ---------------------------------------------------------------------------

coord = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@settings(max_examples=200, deadline=None)
@given(coord, coord)
def test_wkb_point_roundtrip(x, y):
    kind, pt = G.parse_wkb(G.wkb_point(x, y))
    assert kind == "point"
    assert pt[0] == x and pt[1] == y


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.tuples(coord, coord), min_size=3, max_size=12),
)
def test_wkb_polygon_roundtrip(pts):
    ring = np.asarray(pts + [pts[0]], dtype=np.float64)
    kind, rings = G.parse_wkb(G.wkb_polygon([ring]))
    assert kind == "polygon"
    assert np.array_equal(np.asarray(rings[0]), ring)


@settings(max_examples=100, deadline=None)
@given(coord, coord, coord)
def test_wkb_point_z_roundtrip(x, y, z):
    kind, pt = G.parse_wkb(G.wkb_point_z(x, y, z))
    assert kind == "point_z"
    assert pt[0] == x and pt[1] == y and pt[2] == z


# ---------------------------------------------------------------------------
# UTM: forward -> inverse closes within the series truncation bound
# everywhere in a zone's working extent (PROJ tmerc closure; the Krüger
# n^3 truncation is < 0.1 mm ~ 1e-9 deg; corner overlap regions are
# looser but bounded)
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(finite_lon, finite_lat)
def test_utm_forward_inverse_closure(lon, lat):
    zone, e, n = crs.py_utm_forward(np.array([lon]), np.array([lat]))
    south = lat < 0.0
    nn = n - (crs.N0_SOUTH if south else 0.0)
    lon2, lat2 = crs.np_utm_inverse_mirror(e, nn, int(zone[0]))
    assert abs(lon2[0] - lon) < 5e-6
    assert abs(lat2[0] - lat) < 5e-6


@settings(max_examples=200, deadline=None)
@given(finite_lon, finite_lat)
def test_utm_inverse_mirror_matches_reference_inverse(lon, lat):
    """The exp-expanded mirror (shared with the SQL oracle and warp
    kernel) agrees with the np.sinh/np.cosh reference inverse to float
    noise — different libm entry points, same math."""
    zone, e, n = crs.py_utm_forward(np.array([lon]), np.array([lat]))
    nn = n - (crs.N0_SOUTH if lat < 0.0 else 0.0)
    a = crs.np_utm_inverse_mirror(e, nn, int(zone[0]))
    b = crs.py_utm_inverse(e, nn, int(zone[0]))
    assert abs(a[0][0] - b[0][0]) < 1e-9
    assert abs(a[1][0] - b[1][0]) < 1e-9


# ---------------------------------------------------------------------------
# stable_round: the engine-wide cross-engine rounding rule is exactly
# floor(x*10^d + 0.5)/10^d for every float and digit count
# ---------------------------------------------------------------------------

@settings(max_examples=300, deadline=None)
@given(
    st.floats(min_value=-1e9, max_value=1e9, allow_nan=False),
    st.integers(min_value=0, max_value=6),
)
def test_stable_round_definition(x, d):
    got = float(np_stable_round(np.array([x]), d)[0])
    want = math.floor(x * 10 ** d + 0.5) / 10 ** d
    assert got == want or (math.isinf(want) and math.isinf(got))


# ---------------------------------------------------------------------------
# Great-circle distance: symmetry, identity, triangle sanity (SLOC kernel
# parity with ogr/ogr_geo_utils.cpp:25-46)
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(finite_lon, finite_lat, finite_lon, finite_lat)
def test_great_circle_symmetry(lo1, la1, lo2, la2):
    arr = lambda v: np.array([v], dtype=np.float64)  # noqa: E731
    d12 = float(G.great_circle_distance(arr(la1), arr(lo1), arr(la2), arr(lo2))[0])
    d21 = float(G.great_circle_distance(arr(la2), arr(lo2), arr(la1), arr(lo1))[0])
    assert abs(d12 - d21) <= 1e-6 * max(1.0, d12)
    d_self = float(G.great_circle_distance(arr(la1), arr(lo1), arr(la1), arr(lo1))[0])
    assert d_self <= 1.0  # acos clamp noise stays under a meter


# ---------------------------------------------------------------------------
# Round-5 format codecs: PMTiles tile ids + directories, DXF doubles,
# SRTM HGT grids, PNM headers — encode -> parse roundtrips, fuzzed.
# ---------------------------------------------------------------------------

from gdal_spark.sources import dxf as DXF  # noqa: E402
from gdal_spark.sources import pmtiles as PMT  # noqa: E402
from gdal_spark.sources import pnm as PNM  # noqa: E402
from gdal_spark.sources import srtmhgt as HGT  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=20),
       st.integers(min_value=0, max_value=(1 << 20) - 1),
       st.integers(min_value=0, max_value=(1 << 20) - 1))
def test_pmtiles_tileid_inverse(z, x, y):
    x, y = x % (1 << z), y % (1 << z)
    assert PMT.tileid_to_zxy(PMT.zxy_to_tileid(z, x, y)) == (z, x, y)


@settings(max_examples=100, deadline=None)
@given(st.lists(
    st.tuples(st.integers(min_value=0, max_value=1 << 40),
              st.integers(min_value=0, max_value=1 << 30),
              st.integers(min_value=1, max_value=1 << 20),
              st.integers(min_value=1, max_value=64)),
    min_size=0, max_size=40))
def test_pmtiles_directory_roundtrip(raw):
    # directory entries must have strictly increasing tile ids
    seen, entries, last = set(), [], -1
    for tid, off, ln, rl in sorted(raw):
        if tid <= last:
            continue
        entries.append((tid, off, ln, rl))
        last = tid
    buf = PMT.encode_directory(entries)
    assert PMT.decode_directory(buf) == entries


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=0, max_size=12),
       st.booleans())
def test_dxf_polyline_doubles_roundtrip(verts, closed):
    pls = [("k", [(float(x), float(y)) for x, y in verts], closed)]
    _, got = DXF.parse_dxf(DXF.dxf_bytes(polylines=pls))
    assert got == pls


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=2, max_value=24), st.integers())
def test_hgt_grid_roundtrip(n, seed):
    rng = np.random.RandomState(abs(seed) % (2 ** 31))
    arr = rng.randint(-32768, 32767, size=(n, n)).astype(np.int16)
    assert np.array_equal(HGT.parse_hgt(HGT.hgt_bytes(arr)), arr)


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=1, max_value=16),
       st.integers(min_value=1, max_value=16),
       st.integers(min_value=1, max_value=65535),
       st.integers())
def test_pnm_gray_roundtrip(w, h, maxval, seed):
    rng = np.random.RandomState(abs(seed) % (2 ** 31))
    arr = rng.randint(0, maxval + 1, size=(h, w)).astype(np.int64)
    hdr, back = PNM.parse_pnm(PNM.pnm_bytes(arr, maxval=maxval))
    assert hdr["maxval"] == maxval and np.array_equal(back, arr)


# ---------------------------------------------------------------------------
# Round-5 session-4 codecs: BMP, GIF LZW, TopoJSON, MIF, PGDump, OSM XML
# ---------------------------------------------------------------------------

_img8 = st.integers(min_value=1, max_value=17)


@settings(max_examples=60, deadline=None)
@given(_img8, _img8, st.integers(0, 2**32 - 1))
def test_bmp_truecolor_any_shape_roundtrips(h, w, seed):
    from gdal_spark.sources import bmp as BMP

    rng = np.random.RandomState(seed % (2**31))
    rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    hdr, back = BMP.parse_bmp(BMP.bmp_bytes(rgb))
    assert (hdr["width"], hdr["height"]) == (w, h)
    assert np.array_equal(back, rgb)


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=4000),
       st.integers(min_value=2, max_value=8))
def test_gif_lzw_roundtrips_any_bytes(data, min_code):
    from gdal_spark.sources import gif as G

    lim = 1 << min_code
    clipped = bytes(b % lim for b in data)
    assert G._lzw_decode(G._lzw_encode(clipped, min_code),
                         min_code) == clipped


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(st.integers(-10**6, 10**6),
                          st.integers(-10**6, 10**6)),
                min_size=3, max_size=12, unique=True),
       st.integers(0, 10**6))
def test_topojson_single_ring_roundtrips(pts, fid):
    from gdal_spark.sources import topojson as TJ

    ring = pts + [pts[0]]
    doc = TJ.encode_topology([(fid, {"a": 1}, [ring])], "o",
                             (1e-4, 1e-4), (0.5, -0.5))
    (rfid, props, rings), = TJ.decode_topology(doc, "o")
    assert rfid == fid and props == {"a": 1}
    got = rings[0]
    want = np.asarray([(0.5 + x * 1e-4, -0.5 + y * 1e-4)
                       for x, y in ring])
    assert got.shape == want.shape
    assert np.array_equal(got, want)  # delta cumsum of ints is exact


_fd = st.floats(allow_nan=False, allow_infinity=False,
                min_value=-1e6, max_value=1e6)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(_fd, _fd, st.integers(-2**31, 2**31 - 1),
                          st.integers(-2**31, 2**31 - 1)),
                min_size=1, max_size=20))
def test_mif_and_pgdump_rows_roundtrip(rows):
    from gdal_spark.sources import mif as MIF
    from gdal_spark.sources import pgdump as PGD

    feats = [(x, y, [k, c]) for x, y, k, c in rows]
    out = MIF.parse_mif_pair(*MIF.mif_pair(feats, ["k", "c"]), ["k", "c"])
    assert list(out["x"]) == [x for x, *_ in rows]  # repr is bit-exact
    assert list(out["k"]) == [k for _, _, k, _ in rows]
    out2 = PGD.parse_pgdump(PGD.pgdump_text("t", feats, ["k", "c"]),
                            ["k", "c"])
    assert list(out2["y"]) == [y for _, y, *_ in rows]  # WKB is bit-exact
    assert list(out2["c"]) == [c for *_, c in rows]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 2**40), _fd, _fd,
                          st.integers(-10**9, 10**9)),
                min_size=1, max_size=20, unique_by=lambda r: r[0]))
def test_osm_nodes_roundtrip_property(rows):
    from gdal_spark.sources import osmxml as OSM

    docs = [{"nid": n, "lon": x, "lat": y, "cents": c}
            for n, x, y, c in rows]
    back = OSM.parse_osm(OSM.osm_document(docs, "nid", ["cents"]),
                         "nid", ["cents"])
    assert back == docs


# ---------------------------------------------------------------------------
# Session-5 codecs: SpatiaLite blobs, DTED records, USGS DEM text, BT,
# ZMap, XLSX column letters, GMT features
# ---------------------------------------------------------------------------

@settings(max_examples=150, deadline=None)
@given(coord, coord, st.integers(min_value=-10, max_value=32766))
def test_spatialite_point_blob_roundtrip(x, y, srid):
    from gdal_spark.sources import spatialite as SL

    srid2, env, kind, (px, py) = SL.parse_blob(SL.point_blob(x, y, srid))
    assert (srid2, kind) == (srid, "point")
    assert px == x and py == y
    assert env == (x, y, x, y)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=3, max_size=10),
       st.integers(min_value=0, max_value=3))
def test_spatialite_polygon_blob_roundtrip(pts, extra_rings):
    from gdal_spark.sources import spatialite as SL

    pts = pts + [pts[0]]
    rings = [np.array(pts, dtype=np.float64)]
    for k in range(extra_rings):
        rings.append(rings[0] * (0.5 / (k + 2)) + k + 1)
    _, env, kind, back = SL.parse_blob(SL.polygon_blob(rings))
    assert kind == "polygon" and len(back) == len(rings)
    for a, b in zip(back, rings):
        np.testing.assert_array_equal(a, b)


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=5, max_value=61).filter(
           lambda n: 3600 % (n - 1) == 0 and (3600 // (n - 1)) * 10 <= 9999),
       st.integers(min_value=0, max_value=2**31 - 1),
       st.integers(min_value=-89, max_value=89),
       st.integers(min_value=-179, max_value=179))
def test_dted_grid_roundtrip(n, seed, lat_sw, lon_sw):
    from gdal_spark.sources import dted as DT

    rng = np.random.RandomState(seed % (2**31))
    arr = rng.randint(-32000, 32000, size=(n, n)).astype(np.int16)
    la, lo, back = DT.parse_dted(DT.dted_bytes(arr, lat_sw, lon_sw))
    assert (la, lo) == (lat_sw, lon_sw)
    np.testing.assert_array_equal(back, arr)


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=2, max_value=31).filter(lambda n: 3600 % (n - 1) == 0),
       st.integers(min_value=0, max_value=2**31 - 1))
def test_usgsdem_grid_roundtrip(n, seed):
    from gdal_spark.sources import usgsdem as UD

    rng = np.random.RandomState(seed % (2**31))
    arr = rng.randint(-32000, 32000, size=(n, n)).astype(np.int16)
    la, lo, back = UD.parse_dem(UD.dem_bytes(arr, 12, -77))
    assert (la, lo) == (12, -77)
    np.testing.assert_array_equal(back, arr)


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=1, max_value=40),
       st.integers(min_value=1, max_value=40),
       st.integers(min_value=0, max_value=2**31 - 1))
def test_bt_header_and_zmap_grid_roundtrip(w, h, seed):
    from gdal_spark.sources import bt as BT
    from gdal_spark.sources import zmap as ZM

    hdr = BT.bt_header(w, h, "f4", -w / 2.0, w / 2.0, 0.0, float(h))
    meta = BT.parse_bt_header(hdr)
    assert (meta["w"], meta["h"], meta["dtype"]) == (w, h, "<f4")
    assert meta["left"] == -w / 2.0 and meta["top"] == float(h)

    rng = np.random.RandomState(seed % (2**31))
    arr = np.round(rng.uniform(-1e4, 1e4, size=(h, w)), 7)
    *_, back = ZM.parse_zmap(ZM.zmap_bytes(arr, 0.0, float(w),
                                           -float(h), 0.0))
    np.testing.assert_allclose(back, arr, rtol=0, atol=5e-8)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=0, max_value=16383))
def test_xlsx_column_letters_bijective(idx):
    from gdal_spark.sources import xlsx as XL

    ref = XL.col_letter(idx)
    assert ref.isalpha() and ref.isupper()
    assert XL.letter_col(ref + "1") == idx


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.tuples(st.integers(min_value=-10**9, max_value=10**9), coord, coord),
    min_size=1, max_size=20))
def test_gmt_points_roundtrip_property(rows):
    import pandas as pd

    from gdal_spark.sources import gmt as GMT

    pdf = pd.DataFrame(rows, columns=["k", "x", "y"])
    gt, names, feats = GMT.parse_gmt(
        GMT.points_gmt_bytes(pdf, "x", "y", ["k"]))
    assert gt == "POINT" and names == ["k"]
    assert len(feats) == len(rows)
    for (k, x, y), (attrs, xy) in zip(rows, feats):
        assert attrs == [k]
        assert xy[0, 0] == x and xy[0, 1] == y


# ---------------------------------------------------------------------------
# Session-6 codecs: FITS cards, WAsP token stream, JML dialect, Selafin
# frames, HF2 delta tiles, E00 fixed-width reals, JDEM decimeter fields
# ---------------------------------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=1, max_value=40),
       st.integers(min_value=1, max_value=40),
       st.sampled_from([8, 16, 32, -32, -64]))
def test_fits_header_roundtrip_property(w, h, bitpix):
    import tempfile

    from gdal_spark.sources import fits as FITS

    hdr = FITS.header_bytes(w, h, bitpix, bzero=32768.0 if bitpix == 16
                            else 0.0)
    assert len(hdr) % FITS.BLOCK == 0
    p = tempfile.mktemp(suffix=".fits")
    open(p, "wb").write(hdr + b"\x00" * FITS.BLOCK)
    got = FITS.parse_header(p)
    os.unlink(p)
    assert (got["w"], got["h"], got["bitpix"]) == (w, h, bitpix)


@settings(max_examples=60, deadline=None)
@given(st.lists(
    st.tuples(st.floats(min_value=-500, max_value=500).map(
        lambda v: round(v * 8) / 8),
        st.lists(st.tuples(
            st.floats(min_value=-9000, max_value=9000).map(
                lambda v: round(v * 10) / 10),
            st.floats(min_value=-9000, max_value=9000).map(
                lambda v: round(v * 10) / 10)),
            min_size=2, max_size=9)),
    min_size=0, max_size=6))
def test_wasp_elevation_roundtrip_property(feats):
    from gdal_spark.sources import wasp as W

    arr = [(z, np.array(xy, dtype=np.float64)) for z, xy in feats]
    kind, back = W.parse_wasp(W.elevation_map_bytes(arr))
    assert kind == "elevation"
    assert len(back) == len(arr)
    for (z, xy), (bz, bxy) in zip(arr, back):
        assert bz == z
        assert np.array_equal(bxy, xy)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(st.integers(-10**9, 10**9), coord, coord),
                min_size=0, max_size=12))
def test_jml_points_roundtrip_property(rows):
    import pandas as pd

    from gdal_spark.sources import jml as J

    pdf = pd.DataFrame(rows, columns=["k", "x", "y"])
    recs = J.parse_jml(J.points_jml_bytes(pdf, "x", "y", ["k"]), ["k"])
    assert len(recs) == len(rows)
    for (k, x, y), r in zip(rows, recs):
        assert r == {"x": x, "y": y, "k": k}


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=1, max_value=30),
       st.integers(min_value=1, max_value=30),
       st.integers(min_value=0, max_value=3))
def test_selafin_layout_offsets_property(npoin, nelem, nvar):
    from gdal_spark.sources import selafin as S

    variables = [f"V{i}" for i in range(nvar)]
    lay = S.header_layout(npoin, nelem, 3, variables)
    # every payload is inside the file and frames never overlap
    assert lay["ikle"] < lay["ipobo"] < lay["x"] < lay["y"] < lay["time"]
    assert lay["y"] - lay["x"] == npoin * 4 + 8  # frame adds 8
    assert lay["end"] == lay["time"] + 4 + 4 + nvar * (npoin * 4 + 8)


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=1, max_value=6),
       st.integers(min_value=2, max_value=16),
       st.integers(),
       st.sampled_from([0.25, 0.5, 1.0]))
def test_hf2_tile_codec_property(th, tw, seed, scale):
    import struct

    from gdal_spark.sources import hf2 as H

    rng = np.random.RandomState(abs(seed) % (2**32))
    vals = np.round(rng.uniform(-1000, 1000, size=(th, tw))
                    / scale) * scale
    blob = H._encode_tile(vals, scale)
    # decode by hand with the documented layout
    sc, off = struct.unpack_from("<2f", blob, 0)
    pos = 8
    out = np.empty_like(vals)
    for r in range(th):
        ws = blob[pos]
        first = struct.unpack_from("<i", blob, pos + 1)[0]
        pos += 5
        deltas = np.frombuffer(blob, dtype=H._WS_DT[ws], count=tw - 1,
                               offset=pos).astype(np.int64)
        pos += ws * (tw - 1)
        raw = np.concatenate(([first], first + np.cumsum(deltas)))
        out[r] = raw * float(sc) + float(off)
    assert np.allclose(out, vals, atol=scale * 1e-3)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(
    st.integers(0, 10**6), st.integers(0, 10**6),
    st.integers(0, 10**6), st.integers(0, 10**6),
    st.lists(st.tuples(
        st.floats(min_value=-1e5, max_value=1e5).map(
            lambda v: round(v * 2) / 2),
        st.floats(min_value=-1e5, max_value=1e5).map(
            lambda v: round(v * 2) / 2)), min_size=2, max_size=7)),
    min_size=0, max_size=5))
def test_avce00_arc_roundtrip_property(arcs_in):
    from gdal_spark.sources import avce00 as E

    arcs = [{"arc_id": i + 1, "user_id": i + 1, "fnode": f, "tnode": t,
             "lpoly": lp, "rpoly": rp,
             "xy": np.array(xy, dtype=np.float64)}
            for i, (f, t, lp, rp, xy) in enumerate(arcs_in)]
    back = E.parse_e00_arcs(E.arcs_e00_bytes(arcs))
    assert len(back) == len(arcs)
    for a, b in zip(arcs, back):
        assert (a["fnode"], a["tnode"], a["lpoly"], a["rpoly"]) == \
            (b["fnode"], b["tnode"], b["lpoly"], b["rpoly"])
        assert np.array_equal(a["xy"], b["xy"])


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=99999))
def test_jdem_decimeter_field_roundtrip(dm):
    # the 5-digit decimeter field is bijective over its range
    field = f"{dm:05d}"
    assert len(field) == 5
    assert int(field) == dm
    val = dm * 0.1
    assert int(round(val * 10)) == dm


# ---------------------------------------------------------------------------
# Tile math (spatial/tilemath.py): the engine's column math against its
# Python mirror and, for the tile domain, DuckDB over the SQL fragments.
# ---------------------------------------------------------------------------

from gdal_spark.spatial import tilemath as TM  # noqa: E402

_int32 = st.one_of(st.none(), st.integers(-2**31, 2**31 - 1))
# the word boundaries, the sign and the int extremes
_EDGE_TILES = [(-1, -1), (-2**31, 2**31 - 1), (2**31 - 1, -2**31), (0, 0),
               (None, 0), (0, None), (None, None), (65535, 65536),
               (2**16 + 1, 2**17 - 1), (2**30 - 1, 2**30), (5, -2)]


@settings(max_examples=25, deadline=None)
@given(pairs=st.lists(st.tuples(_int32, _int32), min_size=1, max_size=40),
       z=st.integers(min_value=0, max_value=30))
@example(pairs=_EDGE_TILES, z=0)
@example(pairs=_EDGE_TILES, z=16)
@example(pairs=_EDGE_TILES, z=17)
@example(pairs=_EDGE_TILES, z=30)
def test_quadkey_column_is_bit_exact_python_mirror(spark, pairs, z):
    """Python's & reads the same low bits of a negative int as Spark's
    shiftright; a NULL index gives a NULL key at every zoom but 0."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pairs, "tx int, ty int")
    got = [r[0] for r in df.select(
        TM.quadkey(F.col("tx"), F.col("ty"), z)).collect()]
    assert got == [None if z and None in p else TM.py_quadkey(*p, z)
                   for p in pairs]


_POLES = [-90.0, 90.0, TM.MAX_LAT, -TM.MAX_LAT, 85.06, -85.06, 89.999]
_EDGE_COORDS = [None, math.nan, math.inf, -math.inf, -180.0, 180.0, 180.5,
                -181.0, 0.0, 1e308, -5e-324] + _POLES
_coord = st.one_of(
    st.none(), st.floats(),  # the full double range, NaN and ±inf included
    st.floats(min_value=-200.0, max_value=200.0),
    st.sampled_from(_EDGE_COORDS),
)


@settings(max_examples=20, deadline=None)
@given(rows=st.lists(st.tuples(_coord, _coord), min_size=1, max_size=40),
       z=st.integers(min_value=0, max_value=30))
@example(rows=[(lon, lat) for lon in _EDGE_COORDS for lat in _EDGE_COORDS],
         z=12)
def test_tile_domain_is_total(spark, rows, z):
    """Every tile index is NULL or inside [0, 2^z), and the engine, the
    Python mirror and DuckDB give the same (tx, ty) on every row."""
    import duckdb
    import pyarrow as pa
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "lon double, lat double")
    tx, ty = TM.lonlat_to_tile(F.col("lon"), F.col("lat"), z)
    got = [tuple(r) for r in df.select(tx, ty).collect()]
    assert all(t is None or 0 <= t < 1 << z for r in got for t in r)
    assert got == [TM.py_lonlat_to_tile(lon, lat, z) for lon, lat in rows]

    con = duckdb.connect()
    # Arrow keeps NaN apart from NULL, which a pandas frame would not
    con.register("pts", pa.table({
        "i": pa.array(range(len(rows)), pa.int64()),
        "lon": pa.array([r[0] for r in rows], pa.float64()),
        "lat": pa.array([r[1] for r in rows], pa.float64()),
    }))
    oracle = con.execute(
        f"SELECT {TM.sql_tile_x('lon', z)}, {TM.sql_tile_y_xyz('lat', z)} "
        "FROM pts ORDER BY i").fetchall()
    con.close()
    assert got == [tuple(r) for r in oracle]
