"""Format-driver codec tests: ESRI Shapefile (.shp/.shx/.dbf), GeoPackage
blobs, GeoJSON(Seq) — spec-level byte checks plus Spark roundtrips.

Reference semantics: ogr/ogrsf_frmts/shape/ (shpopen.c, dbfopen.c),
ogr/ogrsf_frmts/gpkg/ (ogrgeopackageutility.cpp), ogr/ogrsf_frmts/geojson/.
"""

import os
import struct
import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_spark.sources import geojson as GJ
from gdal_spark.sources import gpkg as GPKG
from gdal_spark.sources import shapefile as SHP
from gdal_spark.spatial import geometry as G


# ---------------------------------------------------------------------------
# Shapefile codec
# ---------------------------------------------------------------------------

def test_shp_header_spec_bytes():
    shp, shx = SHP.encode_points_shp(
        np.array([1.0, 2.0]), np.array([3.0, 4.0]))
    assert struct.unpack(">i", shp[:4])[0] == 9994      # file code, BE
    assert struct.unpack(">i", shp[24:28])[0] * 2 == len(shp)  # words
    assert struct.unpack("<i", shp[28:32])[0] == 1000   # version, LE
    assert struct.unpack("<i", shp[32:36])[0] == SHP.SHAPE_POINT
    xmin, ymin, xmax, ymax = struct.unpack("<4d", shp[36:68])
    assert (xmin, ymin, xmax, ymax) == (1.0, 3.0, 2.0, 4.0)
    # shx: one 8-byte entry per record after the 100-byte header
    assert len(shx) == 100 + 8 * 2
    off_words, len_words = struct.unpack(">ii", shx[100:108])
    assert off_words == 50 and len_words == 10  # record 0 at byte 100


def test_shp_points_bit_exact_roundtrip():
    rng = np.random.RandomState(7)
    x, y = rng.randn(1000) * 180, rng.randn(1000) * 80
    shp, _ = SHP.encode_points_shp(x, y)
    x2, y2 = SHP.decode_points_shp(shp)
    assert np.array_equal(x, x2) and np.array_equal(y, y2)


def test_shp_polygon_orientation_enforced():
    ccw = np.array([[0., 0.], [4., 0.], [4., 3.], [0., 3.], [0., 0.]])
    hole_cw = ccw[::-1].copy() * 0.25 + 1.0
    shp, _ = SHP.encode_polygons_shp([[ccw, hole_cw]])
    polys = SHP.decode_polygons_shp(shp)
    assert len(polys) == 1 and len(polys[0]) == 2
    # spec: outer CW, holes CCW (shpopen.c SHPRewindObject)
    assert SHP._ring_is_cw(polys[0][0])
    assert not SHP._ring_is_cw(polys[0][1])
    # orientation-independent measures survive
    assert abs(G.rings_area(polys[0]) - (12.0 - 0.75)) < 1e-12


def test_dbf_roundtrip_int_and_char():
    pdf = pd.DataFrame({
        "k": [1, -22, 333333333], "name": ["ab", "cdef", ""],
    })
    buf = SHP.encode_dbf(pdf, [("k", "N", 12), ("name", "C", 8)])
    assert buf[0] == 0x03 and buf[-1] == 0x1A
    nrec, hdr, rec = struct.unpack_from("<IHH", buf, 4)
    assert nrec == 3 and hdr == 32 + 64 + 1 and rec == 1 + 12 + 8
    back = SHP.decode_dbf(buf)
    assert back["k"].tolist() == [1, -22, 333333333]
    assert back["name"].tolist() == ["ab", "cdef", ""]


def test_shapefile_spark_distributed_roundtrip(spark):
    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 100).alias("v"),
        (F.col("id") * 0.5 - 100.0).alias("x"),
        (F.col("id") * 0.25 - 60.0).alias("y"),
    )
    d = tempfile.mkdtemp(prefix="gdal_spark_shp_t_")
    n_files = SHP.write_point_shapefiles(
        df, d, "x", "y", [("k", 12), ("v", 12)], num_files=4)
    assert n_files == 4
    back = SHP.read_point_shapefiles(spark, d, ["k", "v"])
    assert back.count() == 500
    joined = back.join(df.select("k", F.col("x").alias("x0")), "k")
    assert joined.filter(F.col("x") != F.col("x0")).count() == 0


def test_shapefile_polygons_distributed_sink(spark, monkeypatch):
    """Fact-scale polygon sink: one .shp per partition, geometry and
    attributes intact — and the path never touches DataFrame.collect()
    (the round-4 verdict's driver-OOM finding)."""
    from pyspark.sql import DataFrame
    from gdal_spark.data.pages import polygons_df

    df = polygons_df(spark)
    monkeypatch.setattr(
        DataFrame, "collect",
        lambda self: (_ for _ in ()).throw(
            AssertionError("collect() in distributed polygon sink")))
    d = tempfile.mkdtemp(prefix="gdal_spark_shpp_d_")
    n = SHP.write_polygon_shapefiles(
        df, d, "rings", [("poly_id", 12)], num_files=4)
    monkeypatch.undo()
    assert n == 4
    back = SHP.read_polygon_shapefiles(spark, d, ["poly_id"])
    rows = {r["poly_id"]: r["rings"] for r in back.collect()}
    want = {r["poly_id"]: r["rings"] for r in df.collect()}
    assert set(rows) == set(want)
    for pid, rings in want.items():
        got = [np.asarray(r) for r in rows[pid]]
        exp = [np.asarray(r) for r in rings]
        assert len(got) == len(exp)
        # area is orientation/rotation independent (writer rewinds rings)
        assert abs(G.rings_area(got) - G.rings_area(exp)) < 1e-9


def test_gpkg_polygons_distributed_sink(spark, monkeypatch):
    from pyspark.sql import DataFrame
    from gdal_spark.data.pages import polygons_df

    df = polygons_df(spark)
    monkeypatch.setattr(
        DataFrame, "collect",
        lambda self: (_ for _ in ()).throw(
            AssertionError("collect() in distributed polygon sink")))
    d = tempfile.mkdtemp(prefix="gdal_spark_gpkgp_d_")
    n = GPKG.write_polygon_gpkgs(
        df, d, int_fields=["poly_id"], num_files=4)
    monkeypatch.undo()
    assert n == 4
    back = GPKG.read_polygon_gpkg(spark, d + "/*.gpkg", ["poly_id"])
    rows = back.collect()
    want = {r["poly_id"]: r for r in df.collect()}
    assert {r["poly_id"] for r in rows} == set(want)
    for r in rows:
        w = want[r["poly_id"]]
        # blob-header envelope must agree with the fixture metadata
        assert (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) == \
            (w["xmin"], w["ymin"], w["xmax"], w["ymax"])
        got = [np.asarray(x) for x in r["rings"]]
        exp = [np.asarray(x) for x in w["rings"]]
        assert abs(G.rings_area(got) - G.rings_area(exp)) < 1e-9


# ---------------------------------------------------------------------------
# GeoPackage codec
# ---------------------------------------------------------------------------

def test_gpkg_blob_header_spec():
    blob = GPKG.gpkg_geom_blob(
        G.wkb_point(1.0, 2.0), srs_id=4326, envelope=(0., 0., 4., 3.))
    assert blob[:2] == b"GP" and blob[2] == 0
    flags = blob[3]
    assert flags & 0x01  # little-endian header
    assert (flags >> 1) & 0x07 == 1  # xy envelope
    assert struct.unpack_from("<i", blob, 4)[0] == 4326
    # envelope stored [minx, maxx, miny, maxy] per spec
    assert struct.unpack_from("<4d", blob, 8) == (0., 4., 0., 3.)
    srs, env, wkb = GPKG.parse_gpkg_blob(blob)
    assert env == (0., 0., 4., 3.)
    assert G.parse_wkb(wkb) == ("point", (1.0, 2.0))


def test_gpkg_metadata_tables(spark):
    import sqlite3

    d = tempfile.mkdtemp(prefix="gdal_spark_gpkg_t_")
    path = d + "/t.gpkg"
    from gdal_spark.data.pages import polygons_df
    GPKG.write_polygon_gpkg(
        polygons_df(spark).limit(3), path, int_fields=["poly_id"])
    conn = sqlite3.connect(path)
    (app_id,) = conn.execute("PRAGMA application_id").fetchone()
    assert app_id == 0x47504B47  # 'GPKG'
    rows = conn.execute(
        "SELECT table_name, data_type FROM gpkg_contents").fetchall()
    assert rows == [("layer", "features")]
    gc = conn.execute(
        "SELECT column_name, geometry_type_name, srs_id "
        "FROM gpkg_geometry_columns").fetchone()
    assert gc == ("geom", "POLYGON", 4326)
    conn.close()


def test_gpkg_spark_distributed_roundtrip(spark):
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") * 0.1).alias("x"),
        (F.col("id") * 0.2 - 30.0).alias("y"),
    )
    d = tempfile.mkdtemp(prefix="gdal_spark_gpkg_d_")
    n = GPKG.write_point_gpkgs(df, d, "x", "y", ["k"], num_files=3)
    assert n == 3
    back = GPKG.read_point_gpkgs(spark, d, ["k"])
    assert back.count() == 300
    joined = back.join(df.select("k", F.col("y").alias("y0")), "k")
    assert joined.filter(F.col("y") != F.col("y0")).count() == 0


# ---------------------------------------------------------------------------
# GeoJSON
# ---------------------------------------------------------------------------

def test_geojsonseq_double_roundtrip_bit_exact(spark):
    vals = [0.1, -179.999999, 1e-17, 12345.678901234567]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, lon double"
    ).withColumn("lat", F.col("lon") / 3.0)
    d = tempfile.mkdtemp(prefix="gdal_spark_gj_t_") + "/pts"
    GJ.write_geojsonseq(
        df, d, GJ.point_geometry(F.col("lon"), F.col("lat")), ["k"])
    back = GJ.read_geojsonseq(spark, d, "Point", "k long")
    rows = {
        r["k"]: r["geometry"]["coordinates"] for r in back.collect()
    }
    orig = {r["k"]: (r["lon"], r["lat"]) for r in df.collect()}
    for k, (lon, lat) in orig.items():
        assert rows[k][0] == lon and rows[k][1] == lat  # bit-exact


def test_geojson_feature_shape(spark):
    df = spark.createDataFrame([(1, 2.0, 3.0)], "k long, x double, y double")
    j = df.select(GJ.feature_json(
        GJ.point_geometry(F.col("x"), F.col("y")),
        F.struct(F.col("k")),
    ).alias("j")).first()["j"]
    import json
    f = json.loads(j)
    assert f["type"] == "Feature"
    assert f["geometry"] == {"type": "Point", "coordinates": [2.0, 3.0]}
    assert f["properties"] == {"k": 1}


# ---------------------------------------------------------------------------
# FlatGeobuf codec (spec: flatgeobuf.org; ogr/ogrsf_frmts/flatgeobuf/)
# ---------------------------------------------------------------------------

from gdal_spark.sources import flatgeobuf as FGB


def test_fgb_magic_and_header():
    hdr = FGB.encode_header(
        "layer", FGB.GEOM_POLYGON, (-1., -2., 3., 4.), 7,
        [("k", FGB.COL_LONG)], 16)
    buf = FGB.MAGIC + struct.pack("<I", len(hdr)) + hdr
    assert buf[:8] == bytes([0x66, 0x67, 0x62, 0x03, 0x66, 0x67, 0x62, 0x01])
    d = FGB.decode_header(buf, 12)
    assert d["name"] == "layer" and d["geometry_type"] == 3
    assert d["envelope"] == (-1., -2., 3., 4.)
    assert d["features_count"] == 7 and d["index_node_size"] == 16
    assert d["columns"] == [("k", FGB.COL_LONG)]


def test_fgb_hilbert_matches_reference_form():
    # the public-domain curve's fixed points: origin maps to 0; the curve
    # is a bijection on the 16-bit grid (sampled)
    assert int(FGB.hilbert_u32(np.array([0]), np.array([0]))[0]) == 0
    rng = np.random.RandomState(3)
    xs = rng.randint(0, 65536, 4096).astype(np.uint32)
    ys = rng.randint(0, 65536, 4096).astype(np.uint32)
    h = FGB.hilbert_u32(xs, ys)
    assert len(set(h.tolist())) == len(set(zip(xs.tolist(), ys.tolist())))
    # locality: neighbors on the grid are usually close on the curve
    h2 = FGB.hilbert_u32(xs + 1, ys)
    assert np.median(np.abs(h2.astype(np.int64) - h.astype(np.int64))) < 1e6


def test_fgb_rtree_search_equals_brute_force():
    rng = np.random.RandomState(4)
    n = 777  # not a multiple of node size → ragged levels
    cx, cy = rng.rand(n) * 50, rng.rand(n) * 50
    bb = np.stack([cx, cy, cx + rng.rand(n), cy + rng.rand(n)], axis=1)
    offs = np.arange(n, dtype=np.uint64) * 13
    tree = FGB.build_rtree(bb, offs)
    assert len(tree) == FGB.rtree_size(n)
    for env in [(10., 10., 12., 12.), (0., 0., 50., 50.), (60., 60., 70., 70.)]:
        got = set(FGB.search_rtree(tree, n, env))
        want = {
            int(offs[i]) for i in range(n)
            if not (bb[i, 2] < env[0] or bb[i, 3] < env[1]
                    or bb[i, 0] > env[2] or bb[i, 1] > env[3])
        }
        assert got == want


def test_fgb_polygon_feature_ends():
    outer = np.array([[0., 0.], [4., 0.], [4., 3.], [0., 3.], [0., 0.]])
    hole = np.array([[1., 1.], [2., 1.], [2., 2.], [1., 2.], [1., 1.]])
    feat = FGB.encode_feature(
        FGB.GEOM_POLYGON, np.concatenate([outer, hole]).ravel(),
        np.array([5, 10], np.uint32),
        FGB._encode_properties([(0, FGB.COL_LONG, 5)]))
    props, xy, ends, _ = FGB.decode_feature(feat, 0, [("k", FGB.COL_LONG)])
    assert props == {"k": 5} and ends.tolist() == [5, 10]
    assert np.array_equal(xy[:5], outer) and np.array_equal(xy[5:], hole)


def test_fgb_spark_roundtrip_with_envelope(spark):
    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 20).cast("double").alias("x"),
        (F.col("id") / 20).cast("double").alias("y"),
    )
    d = tempfile.mkdtemp(prefix="gdal_spark_fgb_t_")
    n = FGB.write_point_fgbs(df, d, "x", "y", ["k"], num_files=4)
    assert n == 4
    back = FGB.read_point_fgbs(spark, d, ["k"])
    assert back.count() == 400
    # envelope-pruned distributed read
    sub = FGB.read_point_fgbs(spark, d, ["k"], envelope=(0., 0., 5., 100.))
    assert sub.count() == df.filter(F.col("x") <= 5.0).count()


# ---------------------------------------------------------------------------
# GeoTIFF codec (public TIFF 6.0 + OGC GeoTIFF 1.1 specs)
# ---------------------------------------------------------------------------


class TestGeoTIFFCodec:
    def _roundtrip(self, arr, **kw):
        from gdal_spark.sources.geotiff import GeoTIFF, write_geotiff_bytes

        buf = write_geotiff_bytes(arr, (10.0, 50.0), (1 / 1024, 1 / 1024),
                                  **kw)
        return buf, GeoTIFF(buf)

    def test_header_bytes(self):
        import struct

        a = np.zeros((16, 16), dtype=np.int32)
        buf, _ = self._roundtrip(a)
        assert buf[:4] == b"II\x2a\x00"  # little-endian classic TIFF
        (ifd_off,) = struct.unpack_from("<I", buf, 4)
        (n_tags,) = struct.unpack_from("<H", buf, ifd_off)
        tags = [struct.unpack_from("<H", buf, ifd_off + 2 + 12 * k)[0]
                for k in range(n_tags)]
        assert tags == sorted(tags)  # spec: ascending tag order
        assert {256, 257, 258, 259, 262, 273, 279, 339,
                33550, 33922, 34735} <= set(tags)

    def test_int32_striped_bitexact(self):
        a = ((np.arange(40 * 56).reshape(40, 56) * 7919) % 100003
             - 50000).astype(np.int32)
        _, t = self._roundtrip(a)
        assert t.epsg == 4326 and not t.tiled
        assert np.array_equal(t.read_array(), a)

    def test_float64_tiled_deflate_bitexact(self):
        rng = np.arange(100 * 72, dtype=np.float64)
        a = (rng * 0.125 - 17.625).reshape(100, 72)  # dyadic values
        _, t = self._roundtrip(a, tiled=True, tile_size=32, deflate=True)
        assert t.tiled and t.compression == 8
        assert np.array_equal(t.read_array(), a)

    def test_geotransform_and_geokeys(self):
        a = np.zeros((16, 16), dtype=np.int32)
        _, t = self._roundtrip(a)
        assert t.geotransform == (
            10.0, 1 / 1024, 0.0, 50.0, 0.0, -1 / 1024)
        assert t.epsg == 4326

    def test_window_prunes_tiles(self):
        a = np.arange(128 * 128, dtype=np.float64).reshape(128, 128)
        _, t = self._roundtrip(a, tiled=True, tile_size=32, deflate=True)
        win, n = t.read_window(20, 36, 100, 92)
        assert np.array_equal(win, a[36:92, 20:100])
        assert n == 8  # i 0..3 x j 1..2, never all 16

    def test_edge_tiles_padded_not_leaked(self):
        a = np.full((48, 40), 7.0)  # 32-grid -> 2x2 tiles, ragged edges
        _, t = self._roundtrip(a, tiled=True, tile_size=32)
        assert np.array_equal(t.read_array(), a)

    def test_tile_size_multiple_of_16_enforced(self):
        from gdal_spark.sources.geotiff import write_geotiff_bytes

        with pytest.raises(ValueError):
            write_geotiff_bytes(
                np.zeros((8, 8), dtype=np.int32), (0, 0), (1, 1),
                tiled=True, tile_size=24)

    def test_unsupported_dtype_raises(self):
        from gdal_spark.sources.geotiff import write_geotiff_bytes

        with pytest.raises(ValueError):
            write_geotiff_bytes(
                np.zeros((8, 8), dtype=np.int16), (0, 0), (1, 1))


# ---------------------------------------------------------------------------
# WARC codec (ISO 28500 / Common-Crawl per-member gzip layout)
# ---------------------------------------------------------------------------


class TestWARCCodec:
    def test_record_framing(self):
        from gdal_spark.sources.warc import (
            http_body, parse_record, warc_record)

        rec = warc_record("https://example.com/doc/7", b"<html>x</html>",
                          rec_id="00000000-0000-0000-0000-000000000007")
        assert rec.startswith(b"WARC/1.1\r\n")
        assert rec.endswith(b"\r\n\r\n")
        headers, payload = parse_record(rec)
        assert headers["WARC-Type"] == "response"
        assert headers["WARC-Target-URI"] == "https://example.com/doc/7"
        assert int(headers["Content-Length"]) == len(payload)
        assert payload.startswith(b"HTTP/1.1 200 OK\r\n")
        assert http_body(payload) == b"<html>x</html>"

    def test_gzip_member_stream_resync(self):
        from gdal_spark.sources.warc import (
            gzip_member, split_members, warc_record)

        recs = [
            warc_record(f"https://example.com/doc/{i}",
                        b"<p>" + bytes([65 + i]) * i + b"</p>",
                        rec_id=f"00000000-0000-0000-0000-{i:012d}")
            for i in range(5)
        ]
        stream = b"".join(gzip_member(r) for r in recs)
        assert list(split_members(stream)) == recs

    def test_binary_payload_survives(self):
        from gdal_spark.sources.warc import (
            gzip_member, http_body, parse_record, split_members, warc_record)

        body = bytes(range(256)) * 3  # every byte value
        rec = warc_record("https://example.com/doc/1", body,
                          rec_id="00000000-0000-0000-0000-000000000001")
        got = list(split_members(gzip_member(rec)))[0]
        _, payload = parse_record(got)
        assert http_body(payload) == body


class TestCOG:
    def test_pages_chain_and_exact_overviews(self):
        from gdal_spark.sources.geotiff import (
            GeoTIFF, build_overviews, write_cog_bytes)

        a = ((np.arange(64 * 64).reshape(64, 64) * 31) % 256).astype(
            np.int32)
        buf = write_cog_bytes(a, (10.0, 50.0), (1 / 1024, 1 / 1024),
                              levels=2)
        t0 = GeoTIFF(buf)
        assert t0.n_pages == 3 and not t0.is_overview
        assert np.array_equal(t0.read_array(), a)
        ov1, ov2 = build_overviews(a, 2)
        t1, t2 = GeoTIFF(buf, page=1), GeoTIFF(buf, page=2)
        assert t1.is_overview and t1.geotransform is None
        assert np.array_equal(t1.read_array(), ov1)
        assert np.array_equal(t2.read_array(), ov2)
        # dyadic invariant: chained 2x2 average == direct 4x4 block mean
        assert np.array_equal(ov2, a.reshape(16, 4, 16, 4).mean(axis=(1, 3)))

    def test_overview_window_prune_still_works(self):
        from gdal_spark.sources.geotiff import GeoTIFF, write_cog_bytes

        a = np.arange(64 * 64, dtype=np.int32).reshape(64, 64)
        buf = write_cog_bytes(a, (0.0, 0.0), (1.0, 1.0), levels=1)
        t1 = GeoTIFF(buf, page=1)  # 32x32 single tile
        win, n = t1.read_window(0, 0, 16, 16)
        assert n == 1 and win.shape == (16, 16)


class TestKMLCodec:
    def test_document_roundtrip_bit_exact(self):
        from gdal_spark.sources.kml import kml_document, parse_kml

        rows = [
            {"x": 2.350000000000001, "y": 48.85, "o_orderkey": 7,
             "cents": 1234},
            {"x": -0.1257, "y": 51.5085, "o_orderkey": 9, "cents": -5},
        ]
        doc = kml_document(rows, "x", "y", ["o_orderkey", "cents"])
        assert b'xmlns="http://www.opengis.net/kml/2.2"' in doc
        back = parse_kml(doc, ["o_orderkey", "cents"])
        assert back == [
            {"o_orderkey": 7, "cents": 1234, "x": 2.350000000000001,
             "y": 48.85},
            {"o_orderkey": 9, "cents": -5, "x": -0.1257, "y": 51.5085},
        ]

    def test_empty_document(self):
        from gdal_spark.sources.kml import kml_document, parse_kml

        assert parse_kml(kml_document([], "x", "y", ["k"]), ["k"]) == []


class TestAAIGridCodec:
    def test_header_and_roundtrip(self):
        from gdal_spark.sources.aaigrid import aaigrid_bytes, parse_aaigrid

        a = (np.arange(12).reshape(3, 4) * 7 - 9).astype(np.int64)
        buf = aaigrid_bytes(a, 10.0, 49.5, 1 / 1024)
        text = buf.decode()
        assert text.startswith("ncols 4\nnrows 3\nxllcorner 10.0\n")
        hdr, back = parse_aaigrid(buf)
        assert hdr["cellsize"] == 1 / 1024 and hdr["yllcorner"] == 49.5
        assert np.array_equal(back, a)

    def test_float_values_shortest_roundtrip(self):
        from gdal_spark.sources.aaigrid import aaigrid_bytes, parse_aaigrid

        a = np.array([[0.1, 2.350000000000001], [-7.25, 1e-12]])
        _, back = parse_aaigrid(aaigrid_bytes(a, 0.0, 0.0, 1.0))
        assert np.array_equal(back, a)


class TestGPXCodec:
    def test_document_roundtrip_bit_exact(self):
        from gdal_spark.sources.gpx import gpx_document, parse_gpx

        rows = [
            {"x": -122.4194155, "y": 37.7749295, "k": 7, "cents": 123456},
            {"x": 0.1 + 0.2, "y": -89.999999999, "k": 8, "cents": -5},
        ]
        doc = gpx_document(rows, "x", "y", ["k", "cents"])
        assert doc.startswith(b"<?xml")
        assert b"http://www.topografix.com/GPX/1/1" in doc
        back = parse_gpx(doc, ["k", "cents"])
        assert len(back) == 2
        for orig, rec in zip(rows, back):
            assert rec["x"] == orig["x"] and rec["y"] == orig["y"]
            assert rec["k"] == orig["k"] and rec["cents"] == orig["cents"]


class TestPNGRasterCodec:
    def test_every_filter_type_roundtrips(self):
        import numpy as np
        from gdal_spark.sources.png_raster import (
            _filter_row, _unfilter_row)

        rng = np.random.default_rng(42)
        prev = rng.integers(0, 256, 64, dtype=np.uint8)
        raw = rng.integers(0, 256, 64, dtype=np.uint8)
        for bpp in (1, 2):
            for ftype in range(5):
                filt = _filter_row(raw, prev, ftype, bpp)
                rec = _unfilter_row(filt, prev, ftype, bpp)
                assert (rec == raw).all(), (ftype, bpp)

    def test_8bit_roundtrip_with_filter_schedule(self):
        import numpy as np
        from gdal_spark.sources.png_raster import (
            decode_png_gray, encode_png_gray)

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (13, 31), dtype=np.uint8)
        data = encode_png_gray(img, depth=8)
        back = decode_png_gray(data)
        assert back.dtype == np.uint8 and (back == img).all()

    def test_16bit_big_endian_roundtrip(self):
        import numpy as np
        from gdal_spark.sources.png_raster import (
            decode_png_gray, encode_png_gray)

        rng = np.random.default_rng(9)
        img = rng.integers(0, 65536, (9, 17), dtype=np.uint16)
        data = encode_png_gray(img, depth=16)
        # IHDR bit depth byte is 16
        assert data[8 + 8 + 8] == 16
        back = decode_png_gray(data)
        assert back.dtype == np.uint16 and (back == img).all()

    def test_world_file_half_pixel_shift(self):
        from gdal_spark.sources.png_raster import (
            parse_world_file, world_file_text)

        txt = world_file_text(1.0 / 1024.0, 1.0 / 1024.0, 0.25, -0.125)
        xres, yres, ulx, uly = parse_world_file(txt)
        assert (xres, yres) == (1.0 / 1024.0, 1.0 / 1024.0)
        assert ulx == 0.25 and uly == -0.125


class TestVRT:
    def test_xml_roundtrip(self):
        from gdal_spark.sources.vrt import build_vrt, parse_vrt

        srcs = [
            {"filename": "a.tif", "src_rect": (0, 0, 8, 8),
             "dst_rect": (4, 4, 8, 8), "scale_ratio": 0.5,
             "scale_offset": 0.25, "nodata": 7.0},
            {"filename": "b.tif", "src_rect": (1, 2, 3, 4),
             "dst_rect": (0, 0, 6, 8)},
        ]
        gt = (10.0, 1.0 / 1024, 0.0, 50.0, 0.0, -1.0 / 1024)
        meta = parse_vrt(build_vrt(16, 16, gt, srcs))
        assert meta["width"] == 16 and meta["height"] == 16
        assert meta["geotransform"] == gt
        assert meta["sources"][0] == srcs[0]
        assert meta["sources"][1] == srcs[1]

    def test_integer_upscale_nearest(self, tmp_path):
        import numpy as np
        from gdal_spark.sources.geotiff import write_geotiff_bytes
        from gdal_spark.sources.vrt import eval_source

        arr = np.arange(16, dtype=np.int32).reshape(4, 4)
        p = tmp_path / "src.tif"
        p.write_bytes(write_geotiff_bytes(
            arr, (10.0, 50.0), (1.0 / 1024, 1.0 / 1024)))
        out = eval_source(str(tmp_path), {
            "filename": "src.tif", "src_rect": (0, 0, 4, 4),
            "dst_rect": (0, 0, 8, 8),
        })
        # nearest 2x: dst (x, y) -> src (x//2, y//2)
        assert len(out) == 64
        for _, r in out.iterrows():
            assert r["val"] == arr[int(r["gy"]) // 2, int(r["gx"]) // 2]

    def test_non_integer_ratio_fails_fast_at_parse_time(self):
        import pytest as _pt
        from gdal_spark.sources.vrt import build_vrt, parse_vrt

        gt = (10.0, 1.0 / 1024, 0.0, 50.0, 0.0, -1.0 / 1024)
        bad = build_vrt(16, 16, gt, [
            {"filename": "missing.tif", "src_rect": (0, 0, 4, 4),
             "dst_rect": (0, 0, 6, 6)},
        ])
        # driver-side: the bad mosaic is rejected before any task launches
        # (no .tif needs to exist for the rejection to fire)
        with _pt.raises(NotImplementedError):
            parse_vrt(bad)
        zero = build_vrt(16, 16, gt, [
            {"filename": "missing.tif", "src_rect": (0, 0, 0, 4),
             "dst_rect": (0, 0, 4, 4)},
        ])
        with _pt.raises(ValueError):
            parse_vrt(zero)

    def test_non_integer_ratio_raises(self, tmp_path):
        import numpy as np
        import pytest as _pt
        from gdal_spark.sources.geotiff import write_geotiff_bytes
        from gdal_spark.sources.vrt import eval_source

        arr = np.zeros((4, 4), dtype=np.int32)
        (tmp_path / "s.tif").write_bytes(write_geotiff_bytes(
            arr, (10.0, 50.0), (1.0 / 1024, 1.0 / 1024)))
        with _pt.raises(NotImplementedError):
            eval_source(str(tmp_path), {
                "filename": "s.tif", "src_rect": (0, 0, 4, 4),
                "dst_rect": (0, 0, 6, 6),
            })


class TestGMLCodec:
    def test_document_roundtrip_bit_exact_with_axis_swap(self):
        from gdal_spark.sources.gml import gml_document, parse_gml

        rows = [
            {"x": 2.350000000000001, "y": 48.85, "o_orderkey": 7,
             "cents": 1234},
            {"x": -0.1257, "y": 51.5085, "o_orderkey": 9, "cents": -5},
        ]
        doc = gml_document(rows, "x", "y", ["o_orderkey", "cents"])
        # urn srsName => pos is LAT-FIRST in the document text
        assert b"urn:ogc:def:crs:EPSG::4326" in doc
        assert b"<gml:pos>48.85 2.350000000000001</gml:pos>" in doc
        back = parse_gml(doc, ["o_orderkey", "cents"])
        assert back == [
            {"o_orderkey": 7, "cents": 1234, "x": 2.350000000000001,
             "y": 48.85},
            {"o_orderkey": 9, "cents": -5, "x": -0.1257, "y": 51.5085},
        ]

    def test_empty_document(self):
        from gdal_spark.sources.gml import gml_document, parse_gml

        assert parse_gml(gml_document([], "x", "y", ["k"]), ["k"]) == []


class TestMVT:
    def test_point_and_polygon_roundtrip(self):
        from gdal_spark.sources import mvt

        feats = [
            {"id": 7, "attrs": {"k": 42, "j": 1}, "point": (130, 4000)},
            {"id": 3, "attrs": {"k": 5}, "point": (0, 4095)},
            {"id": 9, "attrs": {},
             "ring": [(0, 0), (100, 0), (100, 100), (0, 100)]},
        ]
        d = mvt.decode_tile(mvt.encode_tile(feats, layer_name="roads"))
        assert d["name"] == "roads"
        assert d["version"] == 2 and d["extent"] == 4096
        by_id = {f["id"]: f for f in d["features"]}
        assert by_id[7]["points"] == [(130, 4000)]
        assert by_id[7]["attrs"] == {"k": 42, "j": 1}
        assert by_id[3]["points"] == [(0, 4095)]
        assert by_id[9]["type"] == 3
        assert by_id[9]["points"] == [(0, 0), (100, 0), (100, 100), (0, 100)]

    def test_varint_zigzag_edges(self):
        from gdal_spark.sources.mvt import (
            _read_varint, _unzigzag, _varint, _zigzag)

        for n in (0, 1, 127, 128, 300, 2 ** 31, 2 ** 45):
            v, off = _read_varint(_varint(n), 0)
            assert v == n and off == len(_varint(n))
        for n in (0, -1, 1, -4096, 4095, -(2 ** 30)):
            assert _unzigzag(_zigzag(n)) == n

    def test_feature_order_deterministic(self):
        from gdal_spark.sources import mvt

        a = [{"id": i, "attrs": {}, "point": (i, i)} for i in (5, 1, 3)]
        b = [{"id": i, "attrs": {}, "point": (i, i)} for i in (3, 5, 1)]
        assert mvt.encode_tile(a) == mvt.encode_tile(b)


# ---------------------------------------------------------------------------
# SpatiaLite BLOB codec (ogr/ogrsf_frmts/sqlite/ ogrsqlitelayer.cpp)
# ---------------------------------------------------------------------------

class TestSpatiaLite:
    def test_point_blob_spec_bytes(self):
        from gdal_spark.sources import spatialite as SL

        blob = SL.point_blob(2.5, -1.25, srid=4326)
        assert blob[0] == 0x00 and blob[-1] == 0xFE and blob[1] == 0x01
        assert struct.unpack_from("<i", blob, 2)[0] == 4326
        # MBR degenerates to the point; 0x7C separates MBR from body
        assert struct.unpack_from("<4d", blob, 6) == (2.5, -1.25, 2.5, -1.25)
        assert blob[38] == 0x7C
        assert struct.unpack_from("<I", blob, 39)[0] == 1  # POINT class
        srid, env, kind, (x, y) = SL.parse_blob(blob)
        assert (srid, kind, x, y) == (4326, "point", 2.5, -1.25)

    def test_polygon_blob_roundtrip_with_hole(self):
        from gdal_spark.sources import spatialite as SL

        outer = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], float)
        hole = np.array([[1, 1], [1, 2], [2, 2], [2, 1], [1, 1]], float)
        blob = SL.polygon_blob([outer, hole])
        srid, env, kind, rings = SL.parse_blob(blob)
        assert kind == "polygon" and len(rings) == 2
        assert env == (0.0, 0.0, 4.0, 4.0)
        np.testing.assert_array_equal(rings[0], outer)
        np.testing.assert_array_equal(rings[1], hole)
        # body is NOT ISO WKB: no per-geometry endian byte before the class
        assert struct.unpack_from("<I", blob, 39)[0] == 3

    def test_big_endian_blob_accepted(self):
        from gdal_spark.sources import spatialite as SL

        x, y = 10.5, -3.75
        blob = (bytes((0x00, 0x00)) + struct.pack(">i", 4326)
                + struct.pack(">4d", x, y, x, y) + bytes((0x7C,))
                + struct.pack(">I2d", 1, x, y) + bytes((0xFE,)))
        srid, env, kind, (px, py) = SL.parse_blob(blob)
        assert (px, py) == (x, y)

    def test_garbage_rejected(self):
        from gdal_spark.sources import spatialite as SL

        with pytest.raises(ValueError):
            SL.parse_blob(b"\x47\x50" + b"\x00" * 60)  # GPKG magic

    def test_points_spark_distributed_roundtrip(self, spark):
        from gdal_spark.sources import spatialite as SL

        df = spark.range(0, 300).select(
            F.col("id").alias("k"),
            (F.col("id") * 3 % 50).alias("v"),
            (F.col("id") * 0.5 - 70.0).alias("x"),
            (F.col("id") * 0.25 - 30.0).alias("y"),
        )
        d = tempfile.mkdtemp(prefix="gdal_spark_slite_t_")
        n = SL.write_point_sqlites(df, d, "x", "y", ["k", "v"], num_files=4)
        assert n == 4
        back = SL.read_point_sqlites(spark, d, ["k", "v"])
        assert back.count() == 300
        joined = back.join(df.select("k", F.col("x").alias("x0")), "k")
        assert joined.filter(F.col("x") != F.col("x0")).count() == 0

    def test_polygons_distributed_sink_no_collect(self, spark, monkeypatch):
        from pyspark.sql import DataFrame

        from gdal_spark.data.pages import polygons_df
        from gdal_spark.sources import spatialite as SL

        df = polygons_df(spark)
        monkeypatch.setattr(
            DataFrame, "collect",
            lambda self: (_ for _ in ()).throw(
                AssertionError("collect() in distributed polygon sink")))
        d = tempfile.mkdtemp(prefix="gdal_spark_slitep_d_")
        n = SL.write_polygon_sqlites(
            df, d, int_fields=["poly_id"], num_files=4)
        monkeypatch.undo()
        assert n == 4
        back = SL.read_polygon_sqlites(spark, d, ["poly_id"])
        rows = back.collect()
        want = {r["poly_id"]: r for r in df.collect()}
        assert {r["poly_id"] for r in rows} == set(want)
        for r in rows:
            w = want[r["poly_id"]]
            assert (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) == \
                (w["xmin"], w["ymin"], w["xmax"], w["ymax"])
            got = [np.asarray(a) for a in r["rings"]]
            exp = [np.asarray(a) for a in w["rings"]]
            assert abs(G.rings_area(got) - G.rings_area(exp)) < 1e-9

    def test_metadata_tables_spatialite4_layout(self, tmp_path):
        import sqlite3

        from gdal_spark.sources import spatialite as SL

        p = str(tmp_path / "t.sqlite")
        conn = SL._create_db(p, "layer", 1, [("k", "INTEGER")])
        conn.commit()
        gc = conn.execute("SELECT * FROM geometry_columns").fetchone()
        assert gc == ("layer", "geometry", 1, 2, 4326, 0)
        srs = conn.execute(
            "SELECT srid, auth_name, auth_srid FROM spatial_ref_sys"
        ).fetchone()
        assert srs == (4326, "epsg", 4326)
        conn.close()


# ---------------------------------------------------------------------------
# DTED codec (frmts/dted/dted_api.c, dted_create.c; MIL-PRF-89020B)
# ---------------------------------------------------------------------------

class TestDted:
    def _grid(self, n=13):
        rr, cc = np.mgrid[0:n, 0:n]
        return ((cc * cc) % 97 + (rr * 13) % 89 - 45).astype(np.int16)

    def test_uhl_spec_fields(self):
        from gdal_spark.sources import dted as DT

        arr = self._grid(13)  # 3600 % 12 == 0
        buf = DT.dted_bytes(arr, lat_sw=40, lon_sw=-8)
        assert buf[0:4] == b"UHL1"
        assert buf[4:12] == b"0080000W"          # lon origin DDDMMSSH
        assert buf[12:20] == b"0400000N"         # lat origin
        assert buf[20:24] == b"3000"             # (3600/12)*10 tenths
        assert buf[24:28] == b"3000"
        assert buf[47:51] == b"0013" and buf[51:55] == b"0013"
        assert buf[80:83] == b"DSI" and buf[80 + 648:80 + 651] == b"ACC"

    def test_signed_magnitude_and_order(self):
        from gdal_spark.sources import dted as DT

        arr = self._grid(13)
        buf = DT.dted_bytes(arr, 40, -8)
        off = 80 + 648 + 2700
        rec0 = buf[off:off + 12 + 26]
        assert rec0[0] == 0xAA
        # record stores column 0 south->north: first value = arr[0, 0] = -45
        hi, lo = rec0[8], rec0[9]
        assert hi & 0x80                        # negative -> sign bit
        assert ((hi & 0x7F) << 8 | lo) == 45    # magnitude
        lat_sw, lon_sw, back = DT.parse_dted(buf)
        assert (lat_sw, lon_sw) == (40, -8)
        np.testing.assert_array_equal(back, arr)

    def test_checksum_detects_corruption(self):
        from gdal_spark.sources import dted as DT

        buf = bytearray(DT.dted_bytes(self._grid(13), 40, -8))
        buf[80 + 648 + 2700 + 9] ^= 0x01        # flip one elevation byte
        with pytest.raises(ValueError, match="checksum"):
            DT.parse_dted(bytes(buf))

    def test_interval_must_divide_3600(self):
        from gdal_spark.sources import dted as DT

        with pytest.raises(ValueError, match="3600"):
            DT.dted_bytes(np.zeros((14, 14), np.int16), 0, 0)

    def test_spark_roundtrip_with_voids(self, spark):
        from gdal_spark.sources import dted as DT

        n = 13
        cells = spark.range(n * n).select(
            F.lit(40).alias("lat_sw"), F.lit(-8).alias("lon_sw"),
            (F.col("id") / n).cast("long").alias("row"),
            (F.col("id") % n).alias("col"),
        ).withColumn(
            "elev",
            (F.col("col") * F.col("col")) % 97 + (F.col("row") * 13) % 89
            - 45,
        ).filter((F.col("row") + F.col("col")) % 5 != 0)
        d = tempfile.mkdtemp(prefix="gdal_spark_dted_t_")
        assert DT.write_dted_cells(cells, d, n_lat=n, n_lon=n) == 1
        back = DT.read_dted(spark, d)
        assert back.count() == cells.count()
        j = back.join(cells.select("row", "col",
                                   F.col("elev").alias("e0")),
                      ["row", "col"])
        assert j.filter(F.col("elev") != F.col("e0")).count() == 0


# ---------------------------------------------------------------------------
# EHdr BIL codec (frmts/raw/ehdrdataset.cpp)
# ---------------------------------------------------------------------------

class TestEhdr:
    def test_bil_interleave_addressing(self, tmp_path, spark):
        """The on-disk byte layout must be band-interleaved-by-LINE:
        row y holds band0-row, band1-row, ... (a BSQ writer would fail
        this byte-level check even with identical logical content)."""
        from gdal_spark.sources import ehdr as EH

        w, h, bands = 8, 4, 2
        cells = spark.range(bands * h * w).select(
            (F.col("id") / (h * w)).cast("long").alias("band"),
            ((F.col("id") % (h * w)) / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn(
            "val",
            (F.col("band") * 100 + F.col("gy") * 10 + F.col("gx"))
            .cast("double"))
        hdr = str(tmp_path / "img.hdr")
        EH.write_ehdr(cells, hdr, w, h, bands, dtype="i2", block_rows=2)
        raw = np.fromfile(str(tmp_path / "img.bil"), dtype="<i2").reshape(
            h, bands, w)
        # row 1, band 1, col 3 -> 100 + 10 + 3
        assert raw[1, 1, 3] == 113
        assert raw[1, 0, 3] == 13

    def test_hdr_parse_and_center_convention(self, tmp_path):
        from gdal_spark.sources import ehdr as EH

        p = str(tmp_path / "a.hdr")
        with open(p, "w") as fh:
            fh.write("NCOLS 5\nNROWS 3\nNBANDS 1\nNBITS 32\n"
                     "PIXELTYPE FLOAT\nBYTEORDER I\nLAYOUT BIL\n"
                     "ULXMAP 10.5\nULYMAP 49.5\nXDIM 1.0\nYDIM 1.0\n"
                     "NODATA -9999\n")
        hdr = EH.parse_hdr(p)
        assert hdr["w"] == 5 and hdr["h"] == 3 and hdr["dtype"] == "<f4"
        assert hdr["ulx_center"] == 10.5  # CENTER of UL pixel per spec

    def test_unsupported_layout_rejected(self, tmp_path):
        from gdal_spark.sources import ehdr as EH

        p = str(tmp_path / "b.hdr")
        with open(p, "w") as fh:
            fh.write("NCOLS 5\nNROWS 3\nLAYOUT BIP\n")
        with pytest.raises(ValueError, match="BIL"):
            EH.parse_hdr(p)

    def test_spark_roundtrip_negative_int16(self, spark, tmp_path):
        from gdal_spark.sources import ehdr as EH

        w = 16
        cells = spark.range(w * w).select(
            F.lit(0).alias("band"),
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn(
            "val", (F.col("gx") * 3 - F.col("gy") * 7 - 20).cast("double"))
        hdr = str(tmp_path / "c.hdr")
        EH.write_ehdr(cells, hdr, w, w, 1, dtype="i2", block_rows=5)
        back = EH.read_ehdr(spark, hdr, block_rows=7)
        assert back.count() == w * w
        j = back.join(
            cells.select("gy", "gx", F.col("val").alias("v0")),
            ["gy", "gx"])
        assert j.filter(F.col("val") != F.col("v0")).count() == 0


# ---------------------------------------------------------------------------
# XLSX codec (ECMA-376 SpreadsheetML; ogr/ogrsf_frmts/xlsx/)
# ---------------------------------------------------------------------------

class TestXlsx:
    def test_col_letters(self):
        from gdal_spark.sources import xlsx as XL

        assert [XL.col_letter(i) for i in (0, 25, 26, 27, 701, 702)] == \
            ["A", "Z", "AA", "AB", "ZZ", "AAA"]
        for i in (0, 25, 26, 27, 701, 702, 16383):
            assert XL.letter_col(XL.col_letter(i) + "42") == i

    def test_package_parts_and_roundtrip(self):
        import zipfile as zf
        import io

        from gdal_spark.sources import xlsx as XL

        buf = XL.xlsx_bytes(
            ["k", "name", "x"],
            [(1, "a&<b>", 0.1), (2, "", -3.5e-7)])
        with zf.ZipFile(io.BytesIO(buf)) as z:
            names = set(z.namelist())
        assert {"[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
                "xl/_rels/workbook.xml.rels",
                "xl/worksheets/sheet1.xml"} <= names
        header, rows = XL.parse_xlsx(buf)
        assert header == ["k", "name", "x"]
        assert rows[0] == [1, "a&<b>", 0.1]     # XML-escaped text survives
        assert rows[1][2] == -3.5e-7            # shortest-roundtrip double

    def test_shared_strings_reader_path(self):
        import io
        import zipfile as zf

        from gdal_spark.sources import xlsx as XL

        ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        sheet = (f'<worksheet xmlns="{ns}"><sheetData>'
                 '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
                 '<row r="2"><c r="A2" t="s"><v>1</v></c></row>'
                 "</sheetData></worksheet>")
        sst = (f'<sst xmlns="{ns}"><si><t>hdr</t></si>'
               "<si><t>val</t></si></sst>")
        bio = io.BytesIO()
        with zf.ZipFile(bio, "w") as z:
            z.writestr("xl/worksheets/sheet1.xml", sheet)
            z.writestr("xl/sharedStrings.xml", sst)
        header, rows = XL.parse_xlsx(bio.getvalue())
        assert header == ["hdr"] and rows == [["val"]]

    def test_spark_distributed_roundtrip(self, spark):
        from gdal_spark.sources import xlsx as XL

        df = spark.range(0, 200).select(
            F.col("id").alias("k"),
            (F.col("id") * 3 % 40).alias("v"),
            (F.col("id") * 0.5 - 30.0).alias("x"),
            (F.col("id") * 0.125 - 10.0).alias("y"),
        )
        d = tempfile.mkdtemp(prefix="gdal_spark_xlsx_t_")
        n = XL.write_point_xlsxs(df, d, "x", "y", ["k", "v"], num_files=4)
        assert n == 4
        back = XL.read_point_xlsxs(spark, d, ["k", "v"])
        assert back.count() == 200
        j = back.join(df.select("k", F.col("x").alias("x0")), "k")
        assert j.filter(F.col("x") != F.col("x0")).count() == 0


# ---------------------------------------------------------------------------
# RRASTER codec (frmts/raw/rrasterdataset.cpp)
# ---------------------------------------------------------------------------

class TestRraster:
    def test_bip_interleave_addressing(self, tmp_path, spark):
        """On-disk layout must be band-interleaved-by-PIXEL: all bands of
        one pixel adjacent (BIL/BSQ writers fail this byte check)."""
        from gdal_spark.sources import rraster as RR

        w, h, bands = 6, 4, 3
        cells = spark.range(bands * h * w).select(
            (F.col("id") / (h * w)).cast("long").alias("band"),
            ((F.col("id") % (h * w)) / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn(
            "val",
            (F.col("band") * 100 + F.col("gy") * 10 + F.col("gx"))
            .cast("double"))
        grd = str(tmp_path / "img.grd")
        RR.write_rraster(cells, grd, w, h, bands, dtype="i2", block_rows=2)
        raw = np.fromfile(str(tmp_path / "img.gri"), dtype="<i2").reshape(
            h, w, bands)
        assert raw[1, 3, 2] == 213   # row 1, col 3, band 2
        assert raw[1, 3, 0] == 13

    def test_grd_header_stats_and_edges(self, tmp_path, spark):
        from gdal_spark.sources import rraster as RR

        w, h = 8, 8
        cells = spark.range(w * h).select(
            F.lit(0).alias("band"),
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn(
            "val", (F.col("gy") * w + F.col("gx") - 10).cast("double"))
        grd = str(tmp_path / "s.grd")
        RR.write_rraster(cells, grd, w, h, 1, dtype="f4",
                         xmin=10.0, ymax=50.0, cellsize=0.25)
        hdr = RR.parse_grd(grd)
        # xmin/ymax are cell EDGES; ymin/xmax derived from size
        assert hdr["xmin"] == 10.0 and hdr["ymax"] == 50.0
        assert hdr["xmax"] == 12.0 and hdr["ymin"] == 48.0
        # per-band stats in the header come from a Spark aggregate
        assert hdr["minvalue"] == [-10.0] and hdr["maxvalue"] == [53.0]
        assert hdr["bandorder"] == "BIP"

    def test_reader_accepts_bsq_and_bil(self, tmp_path, spark):
        from gdal_spark.sources import rraster as RR

        w, h, bands = 4, 3, 2
        base = np.arange(h * w, dtype="<i2").reshape(h, w)
        cube = np.stack([base, base + 100], axis=0)   # (band, y, x)
        for order, blob in (
            ("BSQ", cube.tobytes()),
            ("BIL", cube.transpose(1, 0, 2).tobytes()),
            ("BIP", cube.transpose(1, 2, 0).tobytes()),
        ):
            grd = str(tmp_path / f"{order}.grd")
            with open(grd, "w") as fh:
                fh.write(f"nrows={h}\nncols={w}\nxmin=0\nymin=0\n"
                         f"xmax=4\nymax=3\ndatatype=INT2S\n"
                         f"byteorder=little\nnbands={bands}\n"
                         f"bandorder={order}\n")
            with open(str(tmp_path / f"{order}.gri"), "wb") as fh:
                fh.write(blob)
            back = RR.read_rraster(spark, grd, block_rows=2).toPandas()
            got = back[(back["band"] == 1) & (back["gy"] == 2)
                       & (back["gx"] == 3)]["val"].iloc[0]
            assert got == base[2, 3] + 100, order

    def test_unknown_datatype_rejected(self, tmp_path):
        from gdal_spark.sources import rraster as RR

        grd = str(tmp_path / "bad.grd")
        with open(grd, "w") as fh:
            fh.write("nrows=1\nncols=1\nxmin=0\nymin=0\nxmax=1\nymax=1\n"
                     "datatype=FLT4U\n")
        with pytest.raises(ValueError, match="datatype"):
            RR.parse_grd(grd)


# ---------------------------------------------------------------------------
# SAGA codec (frmts/saga/sagadataset.cpp)
# ---------------------------------------------------------------------------

class TestSaga:
    def test_bottom_up_rows_and_center_origin(self, tmp_path, spark):
        from gdal_spark.sources import saga as SG

        w = 8
        cells = spark.range(w * w).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn("val", (F.col("gy") * 10 + F.col("gx")).cast("double"))
        sgrd = str(tmp_path / "g.sgrd")
        SG.write_saga(cells, sgrd, w, w, dtype="i2",
                      xmin=10.0, ymax=50.0, cellsize=0.5)
        raw = np.fromfile(str(tmp_path / "g.sdat"), dtype="<i2").reshape(w, w)
        # file row 0 = SOUTH edge = north-up gy 7
        assert raw[0, 3] == 73 and raw[7, 3] == 3
        hdr = SG.parse_sgrd(sgrd)
        # POSITION_* name the CENTER of the SW cell
        assert hdr["xmin_center"] == 10.25
        assert hdr["ymin_center"] == 46.25
        back = SG.read_saga(spark, sgrd)
        j = back.join(cells.select("gy", "gx", F.col("val").alias("v0")),
                      ["gy", "gx"])
        assert j.filter(F.col("val") != F.col("v0")).count() == 0

    def test_toptobottom_rejected_like_reference(self, tmp_path):
        from gdal_spark.sources import saga as SG

        p = str(tmp_path / "t.sgrd")
        with open(p, "w") as fh:
            fh.write("CELLCOUNT_X\t= 2\nCELLCOUNT_Y\t= 2\n"
                     "DATAFORMAT\t= FLOAT\nTOPTOBOTTOM\t= TRUE\n")
        with pytest.raises(ValueError, match="TOPTOBOTTOM"):
            SG.parse_sgrd(p)


# ---------------------------------------------------------------------------
# USGS DEM codec (frmts/usgsdem/usgsdemdataset.cpp)
# ---------------------------------------------------------------------------

class TestUsgsDem:
    def _grid(self, n=13):
        rr, cc = np.mgrid[0:n, 0:n]
        return ((cc * cc) % 97 + (rr * 13) % 89 - 45).astype(np.int16)

    def test_type_a_fixed_offsets(self):
        from gdal_spark.sources import usgsdem as UD

        buf = UD.dem_bytes(self._grid(13), lat_sw=34, lon_sw=-120)
        assert int(buf[156:162]) == 0          # geographic
        assert int(buf[528:534]) == 3          # arc-seconds
        assert int(buf[534:540]) == 2          # meters
        assert int(buf[858:864]) == 13         # profile count
        # SW corner x in arc-seconds, Fortran D exponent
        assert b"D" in buf[546:570]
        assert float(buf[546:570].replace(b"D", b"E")) == -120 * 3600.0
        # resolutions: 3600/12 = 300 arc-sec
        assert float(buf[816:828].replace(b"D", b"E")) == 300.0

    def test_block_padding_and_roundtrip(self):
        from gdal_spark.sources import usgsdem as UD

        arr = self._grid(13)
        buf = UD.dem_bytes(arr, 34, -120)
        assert len(buf) % 1024 == 0
        lat, lon, back = UD.parse_dem(buf)
        assert (lat, lon) == (34, -120)
        np.testing.assert_array_equal(back, arr)

    def test_adjacent_full_width_negatives_tokenize(self):
        """Consecutive -32767 nodata fields fill their 6 chars with no
        separator — the sign-aware scan must still split them (the
        naive whitespace split fails here)."""
        from gdal_spark.sources import usgsdem as UD

        arr = np.full((13, 13), UD.NODATA, dtype=np.int16)
        arr[3, 4] = -12345
        lat, lon, back = UD.parse_dem(UD.dem_bytes(arr, 34, -120))
        np.testing.assert_array_equal(back, arr)

    def test_profile_xstart_consistency_enforced(self):
        from gdal_spark.sources import usgsdem as UD

        buf = bytearray(UD.dem_bytes(self._grid(13), 34, -120))
        # corrupt the first profile's x-start (first 24-char D-float
        # after the four 6-char ints at the start of block 1)
        pos = 1024 + 24
        # shift by 2 whole columns (dx = 300 arc-sec at n=13) so the
        # recovered column id disagrees with the record's
        field = UD._dfloat(-120 * 3600.0 + 600.0, 24).encode()
        buf[pos:pos + 24] = field
        with pytest.raises(ValueError, match="x-start"):
            UD.parse_dem(bytes(buf))

    def test_spark_roundtrip(self, spark):
        from gdal_spark.sources import usgsdem as UD

        n = 13
        cells = spark.range(n * n).select(
            F.lit(34).alias("lat_sw"), F.lit(-120).alias("lon_sw"),
            (F.col("id") / n).cast("long").alias("row"),
            (F.col("id") % n).alias("col"),
        ).withColumn(
            "elev",
            (F.col("col") * F.col("col")) % 97 + (F.col("row") * 13) % 89
            - 45,
        ).filter((F.col("row") + F.col("col")) % 5 != 0)
        d = tempfile.mkdtemp(prefix="gdal_spark_usgsdem_t_")
        assert UD.write_dem_cells(cells, d, n_lat=n, n_lon=n) == 1
        back = UD.read_dem(spark, d)
        assert back.count() == cells.count()
        j = back.join(cells.select("row", "col",
                                   F.col("elev").alias("e0")),
                      ["row", "col"])
        assert j.filter(F.col("elev") != F.col("e0")).count() == 0


# ---------------------------------------------------------------------------
# BT Binary Terrain codec (frmts/raw/btdataset.cpp; VTP 1.3 spec)
# ---------------------------------------------------------------------------

class TestBt:
    def test_header_spec_bytes(self, tmp_path, spark):
        from gdal_spark.sources import bt as BT

        hdr = BT.bt_header(7, 5, "i2", 10.0, 17.0, 45.0, 50.0)
        assert hdr[0:10] == b"binterr1.3"
        assert struct.unpack_from("<i", hdr, 10)[0] == 7
        assert struct.unpack_from("<i", hdr, 14)[0] == 5
        assert struct.unpack_from("<h", hdr, 18)[0] == 2
        assert hdr[20] == 0
        assert struct.unpack_from("<d", hdr, 28)[0] == 10.0
        assert struct.unpack_from("<d", hdr, 52)[0] == 50.0
        meta = BT.parse_bt_header(hdr)
        assert meta["w"] == 7 and meta["dtype"] == "<i2"

    def test_transposed_column_major_bottom_up(self, tmp_path, spark):
        """Byte layout: columns left->right, each column BOTTOM->TOP —
        a row-major or top-down writer fails this check."""
        from gdal_spark.sources import bt as BT

        w = h = 4
        cells = spark.range(w * h).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn("val", (F.col("gy") * 10 + F.col("gx")).cast("double"))
        path = str(tmp_path / "t.bt")
        BT.write_bt(cells, path, w, h, dtype="i2", block_cols=2)
        raw = np.fromfile(path, dtype="<i2", offset=256).reshape(w, h)
        # file column 1, first value = bottom row (gy 3) of gx 1 -> 31
        assert raw[1, 0] == 31 and raw[1, h - 1] == 1
        back = BT.read_bt(spark, path, block_cols=3)
        j = back.join(cells.select("gy", "gx", F.col("val").alias("v0")),
                      ["gy", "gx"])
        assert j.filter(F.col("val") != F.col("v0")).count() == 0

    def test_float32_variant(self, tmp_path, spark):
        from gdal_spark.sources import bt as BT

        w = 6
        cells = spark.range(w * w).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn("val", (F.col("gx") * 0.5 - 1.25).cast("double"))
        path = str(tmp_path / "f.bt")
        BT.write_bt(cells, path, w, w, dtype="f4")
        meta = BT.parse_bt_header(open(path, "rb").read(256))
        assert meta["dtype"] == "<f4"
        back = BT.read_bt(spark, path)
        assert back.count() == w * w
        assert back.filter(F.col("val") == -1.25).count() == w


# ---------------------------------------------------------------------------
# ZMap codec (frmts/zmap/zmapdataset.cpp)
# ---------------------------------------------------------------------------

class TestZmap:
    def test_header_and_column_major_order(self):
        from gdal_spark.sources import zmap as ZM

        arr = np.arange(12, dtype=float).reshape(3, 4)  # rows x cols
        buf = ZM.zmap_bytes(arr, 0, 4, -3, 0)
        text = buf.decode()
        assert "@gdal_spark grid, GRID, 4" in text
        data = text.split("@\n")[-1].split()
        # column-major: first column top->bottom = 0, 4, 8
        assert [float(v) for v in data[:3]] == [0.0, 4.0, 8.0]
        xmin, xmax, ymin, ymax, nodata, back = ZM.parse_zmap(buf)
        assert (xmin, xmax, ymin, ymax) == (0.0, 4.0, -3.0, 0.0)
        np.testing.assert_array_equal(back, arr)

    def test_nodata_sentinel_scientific_fallback(self):
        from gdal_spark.sources import zmap as ZM

        arr = np.full((2, 2), 1e30)
        arr[0, 0] = 5.0
        buf = ZM.zmap_bytes(arr, 0, 2, -2, 0)
        # every data line splits into clean <=20-char tokens
        for line in buf.decode().split("@\n")[-1].splitlines():
            for tok in line.split():
                assert len(tok) <= 20
        *_, nodata, back = ZM.parse_zmap(buf)
        assert back[0, 0] == 5.0 and back[1, 1] == 1e30

    def test_spark_roundtrip_with_holes(self, spark, tmp_path):
        from gdal_spark.sources import zmap as ZM

        w = 8
        cells = spark.range(w * w).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn(
            "val", (F.col("gy") * 10 + F.col("gx")).cast("double"),
        ).filter((F.col("gy") + F.col("gx")) % 3 != 0)
        path = str(tmp_path / "g.zmap")
        ZM.write_zmap(cells, path, w, w)
        back = ZM.read_zmap(spark, path)
        assert back.count() == cells.count()  # holes dropped as nodata
        j = back.join(cells.select("gy", "gx", F.col("val").alias("v0")),
                      ["gy", "gx"])
        assert j.filter(F.col("val") != F.col("v0")).count() == 0


# ---------------------------------------------------------------------------
# GMT ASCII vector codec (ogr/ogrsf_frmts/gmt/ogrgmtlayer.cpp)
# ---------------------------------------------------------------------------

class TestGmt:
    def test_point_header_and_roundtrip(self):
        from gdal_spark.sources import gmt as GMT

        pdf = pd.DataFrame({"k": [7, -3], "x": [1.25, -179.5],
                            "y": [-0.5, 89.0]})
        buf = GMT.points_gmt_bytes(pdf, "x", "y", ["k"])
        text = buf.decode()
        assert text.startswith("# @VGMT1.0 @GPOINT @Nk\n")
        assert "# @Tinteger\n" in text
        assert "# @D7\n1.25 -0.5\n" in text
        gt, names, feats = GMT.parse_gmt(buf)
        assert gt == "POINT" and names == ["k"]
        assert feats[0][0] == [7] and feats[1][0] == [-3]
        assert feats[1][1][0, 0] == -179.5

    def test_linestring_segments_with_separator(self):
        from gdal_spark.sources import gmt as GMT

        a = np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 0.5]])
        b = np.array([[5.0, 5.0], [6.0, 5.5]])
        buf = GMT.lines_gmt_bytes([([1], a), ([2], b)], ["seg"])
        gt, names, feats = GMT.parse_gmt(buf)
        assert gt == "LINESTRING" and names == ["seg"]
        assert len(feats) == 2
        np.testing.assert_array_equal(feats[0][1], a)
        np.testing.assert_array_equal(feats[1][1], b)

    def test_spark_distributed_roundtrip(self, spark):
        from gdal_spark.sources import gmt as GMT

        df = spark.range(0, 200).select(
            F.col("id").alias("k"),
            (F.col("id") * 3 % 40).alias("v"),
            (F.col("id") * 0.5 - 30.0).alias("x"),
            (F.col("id") * 0.125 - 10.0).alias("y"),
        )
        d = tempfile.mkdtemp(prefix="gdal_spark_gmt_t_")
        n = GMT.write_point_gmts(df, d, "x", "y", ["k", "v"], num_files=4)
        assert n == 4
        back = GMT.read_point_gmts(spark, d, ["k", "v"])
        assert back.count() == 200
        j = back.join(df.select("k", F.col("x").alias("x0")), "k")
        assert j.filter(F.col("x") != F.col("x0")).count() == 0


# ---------------------------------------------------------------------------
# ODS codec (OASIS OpenDocument; ogr/ogrsf_frmts/ods/)
# ---------------------------------------------------------------------------

class TestOds:
    def test_package_rule_mimetype_first_stored(self):
        import zipfile as zf
        import io

        from gdal_spark.sources import ods as ODS

        buf = ODS.ods_bytes(["k"], [(1.0,)])
        with zf.ZipFile(io.BytesIO(buf)) as z:
            infos = z.infolist()
        assert infos[0].filename == "mimetype"
        assert infos[0].compress_type == zf.ZIP_STORED
        # sniffable: the mimetype string sits raw at byte 38 of the zip
        assert buf[38:38 + 46] == b"application/vnd.oasis.opendocument.spreadsheet"

    def test_float_and_string_roundtrip(self):
        from gdal_spark.sources import ods as ODS

        buf = ODS.ods_bytes(["k", "name", "x"],
                            [(1.0, "a&<b>", -3.5e-7), (2.0, "", 0.1)])
        header, rows = ODS.parse_ods(buf)
        assert header == ["k", "name", "x"]
        assert rows[0] == [1.0, "a&<b>", -3.5e-7]
        assert rows[1][2] == 0.1

    def test_number_columns_repeated_expanded(self):
        import io
        import zipfile as zf

        from gdal_spark.sources import ods as ODS

        o, t = ODS._OFFICE, ODS._TABLE
        content = (
            f'<office:document-content xmlns:office="{o}" '
            f'xmlns:table="{t}" xmlns:text="{ODS._TEXT}">'
            "<office:body><office:spreadsheet><table:table>"
            '<table:table-row><table:table-cell office:value-type="float" '
            'office:value="9" table:number-columns-repeated="3"/>'
            "</table:table-row>"
            "</table:table></office:spreadsheet></office:body>"
            "</office:document-content>")
        bio = io.BytesIO()
        with zf.ZipFile(bio, "w") as z:
            z.writestr(zf.ZipInfo("mimetype"), ODS._MIME,
                       compress_type=zf.ZIP_STORED)
            z.writestr("content.xml", content)
        header, rows = ODS.parse_ods(bio.getvalue())
        assert header == ["9.0", "9.0", "9.0"] and rows == []

    def test_spark_distributed_roundtrip(self, spark):
        from gdal_spark.sources import ods as ODS

        df = spark.range(0, 150).select(
            F.col("id").alias("k"),
            (F.col("id") * 3 % 40).alias("v"),
            (F.col("id") * 0.5 - 30.0).alias("x"),
            (F.col("id") * 0.125 - 10.0).alias("y"),
        )
        d = tempfile.mkdtemp(prefix="gdal_spark_ods_t_")
        n = ODS.write_point_odss(df, d, "x", "y", ["k", "v"], num_files=4)
        assert n == 4
        back = ODS.read_point_odss(spark, d, ["k", "v"])
        assert back.count() == 150
        j = back.join(df.select("k", F.col("x").alias("x0")), "k")
        assert j.filter(F.col("x") != F.col("x0")).count() == 0


# ---------------------------------------------------------------------------
# KRO codec (frmts/raw/krodataset.cpp)
# ---------------------------------------------------------------------------

class TestKro:
    def test_header_and_big_endian_payload(self, tmp_path, spark):
        from gdal_spark.sources import kro as KRO

        w, h, ncomp = 4, 3, 2
        cells = spark.range(ncomp * h * w).select(
            (F.col("id") / (h * w)).cast("long").alias("band"),
            ((F.col("id") % (h * w)) / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn(
            "val",
            (F.col("band") * 1000 + F.col("gy") * 10 + F.col("gx") + 1)
            .cast("double"))
        path = str(tmp_path / "t.kro")
        KRO.write_kro(cells, path, w, h, ncomp, dtype="u2", block_rows=2)
        raw = open(path, "rb").read()
        assert raw[0:4] == b"KRO\x01"
        assert struct.unpack_from(">4I", raw, 4) == (w, h, 16, ncomp)
        # first pixel: band0 then band1 of (gy 0, gx 0), BIG-endian
        assert struct.unpack_from(">2H", raw, 20) == (1, 1001)
        back = KRO.read_kro(spark, path, block_rows=2)
        j = back.join(cells.select("band", "gy", "gx",
                                   F.col("val").alias("v0")),
                      ["band", "gy", "gx"])
        assert j.filter(F.col("val") != F.col("v0")).count() == 0

    def test_unhandled_depth_rejected(self):
        from gdal_spark.sources import kro as KRO

        with pytest.raises(ValueError, match="depth"):
            KRO.parse_kro_header(b"KRO\x01" + struct.pack(">4I", 1, 1, 24, 1))


# ---------------------------------------------------------------------------
# NTv2 codec (frmts/raw/ntv2dataset.cpp)
# ---------------------------------------------------------------------------

class TestNtv2:
    def _grid(self):
        rr, cc = np.mgrid[0:5, 0:7]
        return {
            "name": "T", "s_lat": 40.0, "n_lat": 40.125,
            "lon_min_e": 10.0, "lon_max_e": 10.1875,
            "lat_inc": 1.0 / 32.0, "lon_inc": 1.0 / 32.0,
            "lat_shift": (rr + cc * 10).astype(float),
            "lon_shift_w": (rr * 100 - cc).astype(float),
        }

    def test_header_quirks_positive_west_and_node_order(self):
        from gdal_spark.sources import ntv2 as NT

        buf = NT.ntv2_bytes([self._grid()])
        assert buf[0:8] == b"NUM_OREC"
        assert struct.unpack_from("<i", buf, 8)[0] == 11
        sub = 11 * 16
        assert buf[sub:sub + 8].rstrip() == b"SUB_NAME"
        # E_LONG record carries POSITIVE-WEST arc-seconds of the
        # EASTERN edge: -(10.1875 deg) * 3600
        e_long = struct.unpack_from("<d", buf, sub + 6 * 16 + 8)[0]
        assert e_long == -10.1875 * 3600.0
        # first node (south row, EAST-most col = c 6): lat shift 60+... =
        # rr 0 cc 6 -> 0 + 60 = 60
        nodes_off = sub + 11 * 16
        assert struct.unpack_from("<f", buf, nodes_off)[0] == 60.0
        g = NT.parse_ntv2(buf)[0]
        np.testing.assert_array_equal(
            g["lat_shift"], self._grid()["lat_shift"])
        np.testing.assert_array_equal(
            g["lon_shift_w"], self._grid()["lon_shift_w"])
        assert g["lon_min_e"] == 10.0 and g["lon_max_e"] == 10.1875

    def test_big_endian_accepted(self):
        import struct as st

        from gdal_spark.sources import ntv2 as NT

        buf = bytearray(NT.ntv2_bytes([self._grid()]))
        # transcode every value field to big-endian
        out = bytearray()
        n_nodes = 5 * 7
        recs = 11 + 11
        for i in range(recs):
            rec = bytes(buf[i * 16:(i + 1) * 16])
            name = rec[:8]
            if name.rstrip() in (b"NUM_OREC", b"NUM_SREC", b"NUM_FILE",
                                 b"GS_COUNT"):
                v = st.unpack("<i", rec[8:12])[0]
                rec = name + st.pack(">i", v) + b"\x00" * 4
            elif name.rstrip() in (b"S_LAT", b"N_LAT", b"E_LONG",
                                   b"W_LONG", b"LAT_INC", b"LONG_INC",
                                   b"MAJOR_F", b"MINOR_F", b"MAJOR_T",
                                   b"MINOR_T"):
                v = st.unpack("<d", rec[8:16])[0]
                rec = name + st.pack(">d", v)
            out += rec
        vals = np.frombuffer(bytes(buf[recs * 16:]), dtype="<f4")
        out += vals.astype(">f4").tobytes()
        g = NT.parse_ntv2(bytes(out))[0]
        np.testing.assert_array_equal(
            g["lat_shift"], self._grid()["lat_shift"])

    def test_count_mismatch_rejected(self):
        from gdal_spark.sources import ntv2 as NT

        buf = bytearray(NT.ntv2_bytes([self._grid()]))
        # corrupt GS_COUNT (record 10 of the subgrid header)
        off = (11 + 10) * 16 + 8
        buf[off:off + 4] = struct.pack("<i", 999)
        with pytest.raises(ValueError, match="GS_COUNT"):
            NT.parse_ntv2(bytes(buf))

    def test_outside_points_pass_through(self, spark):
        from gdal_spark.sources import ntv2 as NT
        from pyspark.sql import functions as F

        g = self._grid()
        df = spark.createDataFrame(
            [(1, 10.05, 40.05), (2, 99.0, -3.0)], "k long, lon double, "
            "lat double")
        lon_s, lat_s = NT.apply_shift_cols(g, F.col("lon"), F.col("lat"))
        out = {r["k"]: r for r in df.select(
            "k", lon_s.alias("lon_s"), lat_s.alias("lat_s")).collect()}
        assert out[2]["lon_s"] == 99.0 and out[2]["lat_s"] == -3.0
        assert out[1]["lat_s"] != 40.05  # inside: shifted


def test_ogr_tindex_header_only_scan(spark):
    """ogrtindex gate machinery in isolation: the per-file envelopes read
    from .shp headers must bound every record actually in that file."""
    import struct as st

    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
        (F.col("id") * 0.25 - 40.0).alias("x"),
        (F.col("id") * 0.125 - 20.0).alias("y"),
    )
    d = tempfile.mkdtemp(prefix="gdal_spark_tindex_t_")
    SHP.write_point_shapefiles(df, d, "x", "y", [("k", 12), ("v", 12)],
                               num_files=4)
    import glob
    import os

    for path in glob.glob(f"{d}/*.shp"):
        hdr = open(path, "rb").read(100)
        xmin, ymin, xmax, ymax = st.unpack_from("<4d", hdr, 36)
        xs, ys = SHP.decode_points_shp(open(path, "rb").read())
        assert xs.min() >= xmin and xs.max() <= xmax
        assert ys.min() >= ymin and ys.max() <= ymax
        assert xs.min() == xmin and ys.max() == ymax  # tight envelope


# ---------------------------------------------------------------------------
# VICAR codec (frmts/pds/vicardataset.cpp)
# ---------------------------------------------------------------------------

class TestVicar:
    def _cells(self, spark, w, h, b):
        return spark.range(b * h * w).select(
            (F.col("id") / (h * w)).cast("long").alias("band"),
            ((F.col("id") % (h * w)) / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn(
            "val",
            (F.col("band") * 1000 + F.col("gy") * 10 + F.col("gx") + 1)
            .cast("double"))

    def test_label_self_sizing_and_nbb_prefix(self, tmp_path, spark):
        from gdal_spark.sources import vicar as VIC

        w, h, b = 5, 4, 2
        path = str(tmp_path / "t.vic")
        VIC.write_vicar(self._cells(spark, w, h, b), path, w, h, b,
                        dtype="i2", nbb=4, block_rows=2)
        raw = open(path, "rb").read()
        assert raw.startswith(b"LBLSIZE=")
        hdr = VIC.parse_vicar_label(path)
        # LBLSIZE rounds to a RECSIZE multiple (the reference's rule)
        assert hdr["recsize"] == 4 + w * 2
        assert hdr["lblsize"] % hdr["recsize"] == 0
        # first record = 4 prefix bytes then little-endian samples
        off = hdr["lblsize"]
        assert struct.unpack_from("<h", raw, off + 4)[0] == 1
        back = VIC.read_vicar(spark, path, block_rows=2)
        j = back.join(
            self._cells(spark, w, h, b).select(
                "band", "gy", "gx", F.col("val").alias("v0")),
            ["band", "gy", "gx"])
        assert j.count() == b * h * w
        assert j.filter(F.col("val") != F.col("v0")).count() == 0

    def test_bad_label_rejected(self, tmp_path):
        from gdal_spark.sources import vicar as VIC

        p = str(tmp_path / "bad.vic")
        open(p, "wb").write(b"NOTAVICARFILE")
        with pytest.raises(ValueError, match="LBLSIZE"):
            VIC.parse_vicar_label(p)


# ---------------------------------------------------------------------------
# PDS3 codec (frmts/pds/pdsdataset.cpp)
# ---------------------------------------------------------------------------

class TestPds:
    def test_label_pointer_and_msb_payload(self, tmp_path, spark):
        from gdal_spark.sources import pds as PDS

        w, h, b = 6, 3, 2
        cells = spark.range(b * h * w).select(
            (F.col("id") / (h * w)).cast("long").alias("band"),
            ((F.col("id") % (h * w)) / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn(
            "val",
            (F.col("band") * 500 + F.col("gy") * 10 + F.col("gx") + 1)
            .cast("double"))
        path = str(tmp_path / "t.lbl")
        PDS.write_pds(cells, path, w, h, b, dtype="i2", block_rows=2)
        hdr = PDS.parse_pds_label(path)
        assert hdr["record_bytes"] == w * 2
        # ^IMAGE is 1-based records: data0 = (ptr-1)*record_bytes
        assert hdr["data0"] % hdr["record_bytes"] == 0
        raw = open(path, "rb").read()
        # classic PDS flavor: BIG-endian samples
        assert struct.unpack_from(">h", raw, hdr["data0"])[0] == 1
        back = PDS.read_pds(spark, path, block_rows=2)
        j = back.join(cells.select("band", "gy", "gx",
                                   F.col("val").alias("v0")),
                      ["band", "gy", "gx"])
        assert j.count() == b * h * w
        assert j.filter(F.col("val") != F.col("v0")).count() == 0

    def test_bytes_pointer_form(self, tmp_path, spark):
        from gdal_spark.sources import pds as PDS

        w, h = 4, 2
        cells = spark.range(h * w).select(
            F.lit(0).cast("long").alias("band"),
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") + 3).cast("double").alias("val"))
        path = str(tmp_path / "t.lbl")
        PDS.write_pds(cells, path, w, h, 1, dtype="u1", block_rows=2)
        hdr = PDS.parse_pds_label(path)
        # rewrite the pointer into the <BYTES> form the reference also
        # accepts (pdsdataset.cpp:793) and re-parse
        txt = open(path, "rb").read()
        old = f"^IMAGE                    = {hdr['data0'] // hdr['record_bytes'] + 1:<6d}"
        new = f"^IMAGE = {hdr['data0'] + 1} <BYTES>".ljust(len(old))
        assert old.encode() in txt
        open(path, "wb").write(txt.replace(old.encode(), new.encode()))
        hdr2 = PDS.parse_pds_label(path)
        assert hdr2["data0"] == hdr["data0"]
        back = PDS.read_pds(spark, path, block_rows=2)
        assert back.count() == h * w

    def test_unsupported_sample_type_rejected(self, tmp_path):
        from gdal_spark.sources import pds as PDS

        p = str(tmp_path / "bad.lbl")
        open(p, "w").write(
            "PDS_VERSION_ID = PDS3\r\nRECORD_BYTES = 10\r\n"
            "^IMAGE = 2\r\nLINES = 1\r\nLINE_SAMPLES = 5\r\n"
            "SAMPLE_BITS = 64\r\nSAMPLE_TYPE = VAX_REAL\r\nEND\r\n")
        with pytest.raises(ValueError, match="SAMPLE_TYPE"):
            PDS.parse_pds_label(p)


# ---------------------------------------------------------------------------
# ERS codec (frmts/ers/ersdataset.cpp)
# ---------------------------------------------------------------------------

class TestErs:
    def test_nested_header_msb_bil(self, tmp_path, spark):
        from gdal_spark.sources import ers as ERS

        w, h, b = 5, 4, 2
        cells = spark.range(b * h * w).select(
            (F.col("id") / (h * w)).cast("long").alias("band"),
            ((F.col("id") % (h * w)) / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
        ).withColumn(
            "val",
            (F.col("band") * 1000 + F.col("gy") * 10 + F.col("gx") + 1)
            .cast("double"))
        path = str(tmp_path / "t.ers")
        ERS.write_ers(cells, path, w, h, b, dtype="i2",
                      byteorder="MSBFirst", header_offset=16, block_rows=2)
        hdr = ERS.parse_ers_header(path)
        assert (hdr["w"], hdr["h"], hdr["bands"]) == (w, h, b)
        assert hdr["dtype"] == ">i2" and hdr["skip"] == 16
        # data file = .ers stripped; BIL: line 0 = band0 row0, band1 row0
        raw = open(str(tmp_path / "t"), "rb").read()
        assert struct.unpack_from(">h", raw, 16)[0] == 1
        assert struct.unpack_from(">h", raw, 16 + w * 2)[0] == 1001
        back = ERS.read_ers(spark, path, block_rows=2)
        j = back.join(cells.select("band", "gy", "gx",
                                   F.col("val").alias("v0")),
                      ["band", "gy", "gx"])
        assert j.count() == b * h * w
        assert j.filter(F.col("val") != F.col("v0")).count() == 0

    def test_missing_rasterinfo_rejected(self, tmp_path):
        from gdal_spark.sources import ers as ERS

        p = str(tmp_path / "bad.ers")
        open(p, "w").write("DatasetHeader Begin\nByteOrder = LSBFirst\n"
                           "DatasetHeader End\n")
        with pytest.raises(ValueError, match="NrOfLines"):
            ERS.parse_ers_header(p)


# ---------------------------------------------------------------------------
# Idrisi RST codec (frmts/idrisi/IdrisiDataset.cpp)
# ---------------------------------------------------------------------------

class TestIdrisi:
    def test_rdc_keys_and_flag_drop(self, tmp_path, spark):
        from gdal_spark.sources import idrisi as IDR

        w, h = 6, 4
        cells = spark.range(h * w).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") + 1.5).cast("double").alias("val"),
        ).filter(F.col("id") % 5 != 0)  # punched holes -> flag value
        path = str(tmp_path / "t.rdc")
        IDR.write_idrisi(cells, path, w, h, dtype="f4", flag=-1.0,
                         block_rows=2)
        txt = open(path).read()
        # the format's fixed-12-char key fields
        assert "data type   : real" in txt
        assert "flag value  : -1.0" in txt
        assert "columns     : 6" in txt
        back = IDR.read_idrisi(spark, path, block_rows=2)
        # flagged holes dropped on read
        assert back.count() == cells.count()
        j = back.join(cells.select("gy", "gx", F.col("val").alias("v0")),
                      ["gy", "gx"])
        assert j.filter(F.col("val") != F.col("v0")).count() == 0

    def test_rgb24_rejected(self, tmp_path):
        from gdal_spark.sources import idrisi as IDR

        p = str(tmp_path / "bad.rdc")
        open(p, "w").write("data type   : rgb24\ncolumns     : 2\n"
                           "rows        : 2\n")
        with pytest.raises(ValueError, match="rgb24"):
            IDR.parse_rdc(p)

    def test_empty_input_is_all_flagged(self, tmp_path, spark):
        from gdal_spark.sources import idrisi as IDR

        path = str(tmp_path / "e.rdc")
        IDR.write_idrisi(spark.createDataFrame([], "gy long, gx long, val double"), path,
                         3, 2, dtype="f4", flag=-1.0)
        kv = dict(ln.split(":", 1) for ln in open(path).read().splitlines())
        # a defined value range, not "None"
        assert float(kv["min. value  "]) == float(kv["max. value  "]) == 0.0
        assert IDR.read_idrisi(spark, path).count() == 0


# ---------------------------------------------------------------------------
# Surfer 6 grid codecs (frmts/gsg/gsbgdataset.cpp, gsagdataset.cpp)
# ---------------------------------------------------------------------------

class TestSurfer:
    def test_gsbg_binary_roundtrip_blank_drop(self, tmp_path, spark):
        from gdal_spark.sources import surfer as SRF

        w, h = 6, 5
        cells = spark.range(h * w).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 0.25 + 1.0).cast("double").alias("val"),
        ).filter(F.col("id") % 4 != 0)  # punched holes -> blank value
        path = str(tmp_path / "t.grd")
        SRF.write_gsbg(cells, path, w, h, xlo=10.0, ylo=20.0, cell=2.0,
                       block_rows=2)
        hdr = SRF.parse_gsbg_header(path)
        assert (hdr["w"], hdr["h"]) == (w, h)
        assert hdr["xhi"] == 10.0 + (w - 1) * 2.0
        # the famous blank value sits where holes were punched
        raw = np.fromfile(path, dtype="<f4", offset=56).reshape(h, w)
        assert np.isclose(raw[h - 1, 0], SRF.BLANK_F32)  # gy=0,gx=0 hole
        back = SRF.read_gsbg(spark, path, block_rows=2)
        assert back.count() == cells.count()
        j = back.join(cells.select("gy", "gx", F.col("val").alias("v0")),
                      ["gy", "gx"])
        assert j.filter(F.col("val") != F.col("v0")).count() == 0

    def test_gsbg_bottom_up_rows(self, tmp_path, spark):
        from gdal_spark.sources import surfer as SRF

        # one value at the TOP row (gy=0) must land in the LAST file row
        cells = spark.createDataFrame(
            [(0, 1, 7.0), (2, 0, 3.0)], "gy long, gx long, val double")
        path = str(tmp_path / "b.grd")
        SRF.write_gsbg(cells, path, 3, 3, block_rows=4)
        raw = np.fromfile(path, dtype="<f4", offset=56).reshape(3, 3)
        assert raw[2, 1] == 7.0   # gy=0 -> file row h-1
        assert raw[0, 0] == 3.0   # gy=2 -> file row 0

    def test_gsag_ascii_roundtrip(self, tmp_path, spark):
        from gdal_spark.sources import surfer as SRF

        w, h = 5, 4
        cells = spark.range(h * w).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 0.5 - 3.0).cast("double").alias("val"),
        ).filter(F.col("id") % 7 != 0)
        path = str(tmp_path / "t.asc.grd")
        SRF.write_gsag(cells, path, w, h, xlo=1.0, ylo=2.0, cell=0.5)
        head = open(path, "rb").read(64).decode("ascii")
        assert head.startswith("DSAA\r\n5 4\r\n")
        back = SRF.read_gsag(spark, path, block_rows=2)
        assert back.count() == cells.count()
        j = back.join(cells.select("gy", "gx", F.col("val").alias("v0")),
                      ["gy", "gx"])
        assert j.filter(F.col("val") != F.col("v0")).count() == 0

    def test_gsag_foreign_wrap_fallback(self, tmp_path, spark):
        from gdal_spark.sources import surfer as SRF

        # a foreign writer wraps at 3 values/line; south row first
        txt = ("DSAA\r\n3 2\r\n0 2\r\n0 1\r\n1 6\r\n"
               "4 5 6\r\n1 2 3\r\n")  # south row = [4,5,6]
        path = str(tmp_path / "w.grd")
        open(path, "w").write(txt)
        back = SRF.read_gsag(spark, path).toPandas().sort_values(
            ["gy", "gx"]).reset_index(drop=True)
        # top-down: gy=0 is the NORTH row = second file row [1,2,3]
        assert list(back["val"]) == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]

    def test_bad_magic(self, tmp_path):
        from gdal_spark.sources import surfer as SRF

        p = str(tmp_path / "bad.grd")
        open(p, "wb").write(b"DSRB" + b"\x00" * 60)
        with pytest.raises(ValueError, match="DSBB"):
            SRF.parse_gsbg_header(p)
        p2 = str(tmp_path / "bad2.grd")
        open(p2, "w").write("XXXX\n1 1\n")
        with pytest.raises(ValueError, match="DSAA"):
            SRF.read_gsag(None, p2)

    @pytest.mark.parametrize("fmt", ["gsbg", "gsag"])
    def test_empty_input_is_all_blank(self, tmp_path, spark, fmt):
        from gdal_spark.sources import surfer as SRF

        path = str(tmp_path / "e.grd")
        getattr(SRF, f"write_{fmt}")(spark.createDataFrame([], "gy long, gx long, val double"),
                                     path, 3, 2)
        assert getattr(SRF, f"read_{fmt}")(spark, path).count() == 0


# ---------------------------------------------------------------------------
# FITS codec (frmts/fits/fitsdataset.cpp; NASA FITS 4.0)
# ---------------------------------------------------------------------------

class TestFits:
    def test_header_card_format_and_padding(self, tmp_path):
        from gdal_spark.sources import fits as FITS

        hdr = FITS.header_bytes(100, 64, 16, bzero=32768.0)
        assert len(hdr) % FITS.BLOCK == 0
        cards = [hdr[i:i + 80] for i in range(0, len(hdr), 80)]
        assert cards[0] == b"SIMPLE  = " + b"T".rjust(20) + b" " * 50
        assert cards[1][:10] == b"BITPIX  = "
        assert int(cards[3][10:30]) == 100   # NAXIS1 = width
        assert any(c[:3] == b"END" for c in cards)

    def test_u16_bzero_roundtrip(self, tmp_path, spark):
        from gdal_spark.sources import fits as FITS

        w, h = 6, 5
        cells = spark.range(h * w).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 5000).cast("double").alias("val"),  # 0..145000? no: 29 cells max 140000
        ).withColumn("val", F.col("val") % 65536)
        path = str(tmp_path / "t.fits")
        FITS.write_fits(cells, path, w, h, bitpix=16, bzero=32768.0,
                        block_rows=2)
        hdr = FITS.parse_header(path)
        assert (hdr["w"], hdr["h"], hdr["bitpix"]) == (w, h, 16)
        assert hdr["bzero"] == 32768.0
        # data area padded to a 2880 multiple
        import os

        size = os.path.getsize(path)
        assert (size - hdr["data0"]) % FITS.BLOCK == 0
        back = FITS.read_fits(spark, path, block_rows=2)
        j = back.join(cells.select("gy", "gx", F.col("val").alias("v0")),
                      ["gy", "gx"])
        assert j.count() == h * w
        assert j.filter(F.col("val") != F.col("v0")).count() == 0

    def test_bottom_up_rows_and_bigendian(self, tmp_path, spark):
        from gdal_spark.sources import fits as FITS

        cells = spark.createDataFrame(
            [(0, 1, 300.0), (2, 0, -5.0)], "gy long, gx long, val double")
        path = str(tmp_path / "b.fits")
        FITS.write_fits(cells, path, 3, 3, bitpix=16, block_rows=4)
        hdr = FITS.parse_header(path)
        raw = np.frombuffer(
            open(path, "rb").read()[hdr["data0"]:hdr["data0"] + 18],
            dtype=">i2").reshape(3, 3)
        assert raw[2, 1] == 300   # gy=0 -> file row h-1 (bottom-up)
        assert raw[0, 0] == -5    # gy=2 -> file row 0
        # big-endian on disk: the 300 cell's bytes are 0x01 0x2c
        assert raw.tobytes()[2 * 3 * 2 + 2:2 * 3 * 2 + 4] == b"\x01\x2c"

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import fits as FITS

        p = str(tmp_path / "bad.fits")
        open(p, "wb").write(FITS.header_bytes(2, 2, 16).replace(
            b"SIMPLE  = " + b"T".rjust(20), b"SIMPLE  = " + b"F".rjust(20)))
        with pytest.raises(ValueError, match="SIMPLE"):
            FITS.parse_header(p)
        hdr = FITS.header_bytes(2, 2, 16)
        open(p, "wb").write(hdr.replace(
            b"BITPIX  = " + b"16".rjust(20), b"BITPIX  = " + b"12".rjust(20)))
        with pytest.raises(ValueError, match="BITPIX"):
            FITS.parse_header(p)


# ---------------------------------------------------------------------------
# WAsP .map codec (ogr/ogrsf_frmts/wasp/ogrwasplayer.cpp)
# ---------------------------------------------------------------------------

class TestWasp:
    def test_elevation_bytes_fixed_width(self):
        from gdal_spark.sources import wasp as W

        buf = W.elevation_map_bytes(
            [(12.5, np.array([[0.0, 1.0], [2.5, -3.5]]))])
        lines = buf.decode().splitlines()
        assert len(lines[:4]) == 4 and lines[1] == "  0.0 0.0 0.0 0.0"
        # %11.3f %11d attribute line
        assert lines[4] == f"{12.5:11.3f} {2:11d}"
        assert lines[5].startswith(f"{0.0:11.1f} {1.0:11.1f} ")

    def test_roughness_roundtrip_parse(self):
        from gdal_spark.sources import wasp as W

        feats = [(0.03, 0.1, np.array([[0.0, 0.0], [10.5, 2.0], [3.0, 4.0],
                                       [5.0, 6.0]])),
                 (0.4, 0.03, np.array([[7.0, 8.0], [9.0, 10.0]]))]
        kind, back = W.parse_wasp(W.roughness_map_bytes(feats))
        assert kind == "roughness"
        assert len(back) == 2
        zl, zr, xy = back[0]
        assert (zl, zr) == (0.03, 0.1)
        assert np.array_equal(xy, feats[0][2])

    def test_parse_rejects_bad(self):
        from gdal_spark.sources import wasp as W

        with pytest.raises(ValueError, match="header"):
            W.parse_wasp(b"one line only\n")
        bad = W._HEADER + "1.0 2.0 3.0 4.0 5.0\n"
        with pytest.raises(ValueError, match="tokens"):
            W.parse_wasp(bad.encode())
        overrun = W._HEADER + f"{5.0:11.3f} {9:11d}\n{1.0:11.1f} {2.0:11.1f}\n"
        with pytest.raises(ValueError, match="overruns"):
            W.parse_wasp(overrun.encode())

    def test_elevation_spark_roundtrip(self, tmp_path, spark):
        from gdal_spark.sources import wasp as W

        verts = spark.createDataFrame(
            [(0, 0, 5.0, 1.5, 2.0), (0, 1, 5.0, 3.0, 4.5),
             (1, 0, -2.5, 0.0, 0.0), (1, 1, -2.5, 1.0, 1.0),
             (1, 2, -2.5, 2.0, 0.5)],
            "fid long, seq long, z double, x double, y double")
        d = str(tmp_path / "maps")
        n = W.write_elevation_maps(verts, d, 2)
        # both fids hash to shard 1 of 2; an empty shard writes no file
        assert n == 1
        assert os.listdir(d) == ["part-00001.map"]
        back = W.read_elevation_maps(spark, d).toPandas()
        assert len(back) == 5
        assert sorted(back["z"].unique()) == [-2.5, 5.0]
        got = back.sort_values(["z", "seq"]).reset_index(drop=True)
        assert list(got.loc[got["z"] == 5.0, "x"]) == [1.5, 3.0]


# ---------------------------------------------------------------------------
# JML codec (ogr/ogrsf_frmts/jml/ogrjmlwriterlayer.cpp)
# ---------------------------------------------------------------------------

class TestJml:
    def test_template_and_feature_shape(self):
        from gdal_spark.sources import jml as J

        pdf = pd.DataFrame({"fid": [7], "v": [3], "x": [1.25], "y": [-2.5]})
        buf = J.points_jml_bytes(pdf, "x", "y", ["fid", "v"]).decode()
        assert "<CollectionElement>featureCollection</CollectionElement>" in buf
        assert buf.count("<column>") == 2
        assert 'attributeValue="fid"' in buf
        assert ('<gml:coordinates decimal="." cs="," ts=" ">1.25,-2.5'
                "</gml:coordinates>") in buf
        assert '<property name="v">3</property>' in buf
        recs = J.parse_jml(buf.encode(), ["fid", "v"])
        assert recs == [{"x": 1.25, "y": -2.5, "fid": 7, "v": 3}]

    def test_parse_rejects_bad(self):
        from gdal_spark.sources import jml as J

        with pytest.raises(ValueError, match="JCSGMLInputTemplate"):
            J.parse_jml(b"<xml/>", ["fid"])
        pdf = pd.DataFrame({"fid": [1], "x": [0.0], "y": [0.0]})
        buf = J.points_jml_bytes(pdf, "x", "y", ["fid"])
        with pytest.raises(ValueError, match="not declared"):
            J.parse_jml(buf, ["missing_col"])


# ---------------------------------------------------------------------------
# Selafin / SERAFIN codec (ogr/ogrsf_frmts/selafin/io_selafin.cpp)
# ---------------------------------------------------------------------------

class TestSelafin:
    def _mesh(self, spark):
        nodes = spark.createDataFrame(
            [(0, 0.0, 0.0, 1.5, 0.25), (1, 2.5, 0.0, 2.0, 0.5),
             (2, 0.0, 1.5, 2.5, 0.75), (3, 2.5, 1.5, 3.0, 1.0)],
            "node long, x double, y double, v0 double, v1 double")
        elems = spark.createDataFrame(
            [(0, 0, 1, 2), (1, 1, 3, 2)],
            "elem long, n0 long, n1 long, n2 long")
        return nodes, elems

    def test_fortran_frames_and_header(self, tmp_path, spark):
        import struct

        from gdal_spark.sources import selafin as S

        nodes, elems = self._mesh(spark)
        path = str(tmp_path / "m.slf")
        S.write_selafin(nodes, elems, path, 4, 2,
                        variables=["DEPTH", "SPEED"], block=2)
        raw = open(path, "rb").read()
        # first frame: 80-byte title record, SERAFIN tag in cols 73-80
        assert struct.unpack(">i", raw[:4])[0] == 80
        assert raw[4 + 72:4 + 80] == b"SERAFIN "
        assert struct.unpack(">i", raw[84:88])[0] == 80  # trailing count
        hdr = S.parse_header(path)
        assert hdr["variables"] == ["DEPTH", "SPEED"]
        assert (hdr["npoin"], hdr["nelem"], hdr["ndp"]) == (4, 2, 3)

    def test_roundtrip_nodes_and_elements(self, tmp_path, spark):
        from gdal_spark.sources import selafin as S

        nodes, elems = self._mesh(spark)
        path = str(tmp_path / "m.slf")
        S.write_selafin(nodes, elems, path, 4, 2,
                        variables=["DEPTH", "SPEED"], block=2)
        back_n = S.read_selafin_nodes(spark, path, block=2).toPandas() \
            .sort_values("node").reset_index(drop=True)
        assert list(back_n["x"]) == [0.0, 2.5, 0.0, 2.5]
        assert list(back_n["v1"]) == [0.25, 0.5, 0.75, 1.0]
        back_e = S.read_selafin_elements(spark, path, block=2).toPandas() \
            .sort_values("elem").reset_index(drop=True)
        assert list(back_e["n0"]) == [0, 1]  # 1-based on disk, 0-based back
        assert list(back_e["n2"]) == [2, 2]
        # on disk IKLE really is 1-based
        import struct

        hdr = S.parse_header(path)
        lay = hdr["layout"]
        ik0 = struct.unpack(">3i",
                            open(path, "rb").read()[lay["ikle"]:
                                                    lay["ikle"] + 12])
        assert ik0 == (1, 2, 3)

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import selafin as S

        p = str(tmp_path / "bad.slf")
        open(p, "wb").write(b"\x00\x00\x00\x50" + b"X" * 80 +
                            b"\x00\x00\x00\x51")
        with pytest.raises(ValueError, match="frame mismatch"):
            S.parse_header(p)
        open(p, "wb").write(S._frame(b"Y" * 80))
        with pytest.raises(ValueError, match="SERAFIN"):
            S.parse_header(p)


# ---------------------------------------------------------------------------
# FARSITE LCP codec (frmts/raw/lcpdataset.cpp)
# ---------------------------------------------------------------------------

class TestLcp:
    def test_header_flags_derive_bands(self, tmp_path):
        from gdal_spark.sources import lcp as L

        p = str(tmp_path / "t.lcp")
        for crown, ground, nb in [(False, False, 5), (False, True, 7),
                                  (True, False, 8), (True, True, 10)]:
            open(p, "wb").write(
                L.header_bytes(4, 3, crown=crown, ground=ground))
            hdr = L.parse_header(p)
            assert hdr["bands"] == nb, (crown, ground)
        assert hdr["w"] == 4 and hdr["h"] == 3
        # geotransform doubles land at the reference's offsets
        import struct

        raw = open(p, "rb").read()
        east, west, north, south = struct.unpack_from("<4d", raw, 4172)
        assert west == 0.0 and east == 4 * 30.0

    def test_bip_roundtrip(self, tmp_path, spark):
        from gdal_spark.sources import lcp as L

        w, h = 5, 4
        cells = spark.range(5 * w * h).select(
            (F.col("id") / (w * h)).cast("long").alias("band"),
            ((F.col("id") % (w * h)) / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 3 % 1000 - 200).cast("long").alias("val"),
        )
        p = str(tmp_path / "t.lcp")
        L.write_lcp(cells, p, w, h, crown=False, ground=False,
                    block_rows=2, fill=0)
        # on-disk: pixel-interleaved int16 right after the header
        raw = np.fromfile(p, dtype="<i2", offset=L.HEADER_SIZE).reshape(
            h, w, 5)
        want0 = cells.filter("band=0 and gy=0 and gx=1") \
            .collect()[0]["val"]
        assert raw[0, 1, 0] == want0
        back = L.read_lcp(spark, p, block_rows=2)
        j = back.join(cells.withColumnRenamed("val", "v0"),
                      ["band", "gy", "gx"])
        assert j.count() == 5 * w * h
        assert j.filter("val != v0").count() == 0

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import lcp as L

        p = str(tmp_path / "bad.lcp")
        open(p, "wb").write(b"\x00" * 100)
        with pytest.raises(ValueError, match="7316"):
            L.parse_header(p)
        buf = bytearray(L.header_bytes(2, 2, crown=False, ground=False))
        buf[0] = 99
        open(p, "wb").write(bytes(buf))
        with pytest.raises(ValueError, match="flags"):
            L.parse_header(p)


# ---------------------------------------------------------------------------
# PCI PAux codec (frmts/raw/pauxdataset.cpp)
# ---------------------------------------------------------------------------

class TestPaux:
    def test_aux_sidecar_and_strides(self, tmp_path, spark):
        from gdal_spark.sources import paux as P

        w, h, bands = 4, 3, 2
        cells = spark.range(bands * w * h).select(
            (F.col("id") / (w * h)).cast("long").alias("band"),
            ((F.col("id") % (w * h)) / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 7 % 300).cast("double").alias("val"),
        )
        aux = str(tmp_path / "img.aux")
        P.write_paux(cells, aux, w, h, bands, dtype="u2", block_rows=2)
        text = open(aux).read()
        assert text.startswith("AuxilaryTarget: img.raw\n")
        assert f"RawDefinition: {w} {h} {bands}" in text
        assert f"ChanDefinition-2: 16U {h * w * 2} 2 {w * 2} Swapped" in text
        hdr = P.parse_aux(aux)
        assert hdr["chans"][1]["offset"] == h * w * 2
        back = P.read_paux(spark, aux, block_rows=2)
        j = back.join(cells.withColumnRenamed("val", "v0"),
                      ["band", "gy", "gx"])
        assert j.count() == bands * w * h
        assert j.filter("val != v0").count() == 0

    def test_reads_foreign_bip_strides(self, tmp_path, spark):
        """A foreign writer may describe BIP; the scan must honour the
        declared pixel/line offsets, not assume BSQ."""
        from gdal_spark.sources import paux as P

        w, h = 3, 2
        arr = np.arange(w * h * 2, dtype="<u2").reshape(h, w, 2)  # BIP
        (tmp_path / "f.raw").write_bytes(arr.tobytes())
        aux = str(tmp_path / "f.aux")
        open(aux, "w").write(
            "AuxilaryTarget: f.raw\n"
            f"RawDefinition: {w} {h} 2\n"
            f"ChanDefinition-1: 16U 0 4 {w * 4} Swapped\n"
            f"ChanDefinition-2: 16U 2 4 {w * 4} Swapped\n")
        back = P.read_paux(spark, aux, block_rows=1).toPandas()
        b1 = back[back["band"] == 1].sort_values(["gy", "gx"])
        assert list(b1["val"]) == [1.0, 3.0, 5.0, 7.0, 9.0, 11.0]

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import paux as P

        p = str(tmp_path / "x.aux")
        open(p, "w").write("RawDefinition: 2 2 1\n")
        with pytest.raises(ValueError, match="AuxilaryTarget"):
            P.parse_aux(p)
        open(p, "w").write("AuxilaryTarget: x.raw\nRawDefinition: 2 2 1\n"
                           "ChanDefinition-1: 64C 0 1 2\n")
        with pytest.raises(ValueError, match="64C"):
            P.parse_aux(p)


# ---------------------------------------------------------------------------
# HF2 codec (frmts/hf2/hf2dataset.cpp)
# ---------------------------------------------------------------------------

class TestHf2:
    def test_header_and_tile_structure(self, tmp_path, spark):
        import struct

        from gdal_spark.sources import hf2 as H

        w = h = 16
        cells = spark.range(w * h).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") % 40 * 0.5).cast("double").alias("val"),
        )
        p = str(tmp_path / "t.hf2")
        H.write_hf2(cells, p, w, h, tile=8, vert_pres=0.5)
        raw = open(p, "rb").read()
        assert raw[:4] == b"HF2\x00"
        assert struct.unpack_from("<2i", raw, 6) == (w, h)
        assert struct.unpack_from("<H", raw, 14)[0] == 8
        hdr = H.parse_header(p)
        assert hdr["tile"] == 8 and hdr["data0"] == 28
        # first tile: f32 scale at data0 == vert precision
        assert struct.unpack_from("<f", raw, 28)[0] == 0.5
        # word size byte of the first row is 1/2/4
        assert raw[36] in (1, 2, 4)

    def test_roundtrip_with_partial_tiles(self, tmp_path, spark):
        from gdal_spark.sources import hf2 as H

        w, h = 13, 11  # forces ragged tiles at top and right edges
        cells = spark.range(w * h).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            ((F.col("id") * 7) % 65 * 0.25 - 4.0).cast("double")
            .alias("val"),
        )
        p = str(tmp_path / "r.hf2")
        H.write_hf2(cells, p, w, h, tile=8, vert_pres=0.25)
        back = H.read_hf2(spark, p)
        j = back.join(cells.withColumnRenamed("val", "v0"), ["gy", "gx"])
        assert j.count() == w * h
        assert j.filter("val != v0").count() == 0

    def test_wide_deltas_pick_word_sizes(self):
        import numpy as np

        from gdal_spark.sources import hf2 as H

        # deltas of 1, 1000, and 100000 need ws 1, 2, 4 respectively
        for step, ws in ((1.0, 1), (1000.0, 2), (100000.0, 4)):
            vals = np.array([[0.0, step, 2 * step, 3 * step]])
            blob = H._encode_tile(vals, 1.0)
            assert blob[8] == ws, step

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import hf2 as H

        p = str(tmp_path / "bad.hf2")
        open(p, "wb").write(b"NOPE" + b"\x00" * 40)
        with pytest.raises(ValueError, match="magic"):
            H.parse_header(p)
        open(p, "wb").write(H.header_bytes(4, 4, 4, 1.0))
        with pytest.raises(ValueError, match="< 8"):
            H.parse_header(p)


# ---------------------------------------------------------------------------
# NGS GEOID codec (frmts/ngsgeoid/ngsgeoiddataset.cpp)
# ---------------------------------------------------------------------------

class TestNgsgeoid:
    def test_endianness_probe_and_coords(self, tmp_path, spark):
        from gdal_spark.sources import ngsgeoid as N

        w, h = 5, 4
        cells = spark.range(w * h).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 0.25).cast("double").alias("val"),
        )
        for be in (False, True):
            p = str(tmp_path / f"g{be}.bin")
            N.write_ngsgeoid(cells, p, w, h, slat=24.0, wlon=230.0,
                             dlat=0.5, dlon=0.25, big_endian=be,
                             block_rows=2)
            hdr = N.parse_header(p)
            assert hdr["endian"] == ("big" if be else "little")
            assert (hdr["w"], hdr["h"]) == (w, h)
            back = N.read_ngsgeoid(spark, p, block_rows=2).toPandas() \
                .sort_values(["gy", "gx"]).reset_index(drop=True)
            assert list(back["val"]) == [i * 0.25 for i in range(w * h)]
            # gy=0 is the NORTH row: lat = slat + (h-1)*dlat
            assert back.loc[0, "lat"] == 24.0 + 3 * 0.5
            assert back.loc[1, "lon"] == 230.25

    def test_south_first_on_disk(self, tmp_path, spark):
        from gdal_spark.sources import ngsgeoid as N

        cells = spark.createDataFrame(
            [(0, 0, 9.0), (2, 1, -3.0)], "gy long, gx long, val double")
        p = str(tmp_path / "s.bin")
        N.write_ngsgeoid(cells, p, 3, 3, block_rows=4)
        raw = np.fromfile(p, dtype="<f4", offset=N.HEADER_SIZE).reshape(3, 3)
        assert raw[2, 0] == 9.0   # gy=0 (north) -> last file row
        assert raw[0, 1] == -3.0  # gy=2 (south) -> first file row

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import ngsgeoid as N

        p = str(tmp_path / "bad.bin")
        open(p, "wb").write(b"\x00" * N.HEADER_SIZE)
        with pytest.raises(ValueError, match="IKIND"):
            N.parse_header(p)


# ---------------------------------------------------------------------------
# JDEM codec (frmts/jdem/jdemdataset.cpp)
# ---------------------------------------------------------------------------

class TestJdem:
    def test_fixed_width_records(self, tmp_path, spark):
        from gdal_spark.sources import jdem as J

        w, h = 4, 3
        cells = spark.range(w * h).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 1.5).cast("double").alias("val"),
        )
        p = str(tmp_path / "d.mem")
        J.write_jdem(cells, p, w, h, block_rows=2)
        raw = open(p, "rb").read()
        assert len(raw) == J.HEADER_SIZE + h * (w * 5 + 11)
        rec = raw[J.HEADER_SIZE:J.HEADER_SIZE + w * 5 + 11]
        assert rec[6:9] == b"001"          # 1-based row number
        assert rec[9:14] == b"00000"       # 0.0 m -> 00000 decimeters
        assert rec[14:19] == b"00015"      # 1.5 m -> 15 dm
        assert rec.endswith(b"\r\n")
        back = J.read_jdem(spark, p, block_rows=2)
        j = back.join(cells.withColumnRenamed("val", "v0"), ["gy", "gx"])
        assert j.count() == w * h
        assert j.filter("val != v0").count() == 0

    def test_row_number_validated(self, tmp_path, spark):
        from gdal_spark.sources import jdem as J

        cells = spark.createDataFrame([(0, 0, 1.0)],
                                      "gy long, gx long, val double")
        p = str(tmp_path / "bad.mem")
        J.write_jdem(cells, p, 2, 2)
        raw = bytearray(open(p, "rb").read())
        raw[J.HEADER_SIZE + 6:J.HEADER_SIZE + 9] = b"007"  # corrupt row no
        open(p, "wb").write(bytes(raw))
        with pytest.raises(Exception, match="record row"):
            J.read_jdem(spark, p).collect()

    def test_range_guard(self, tmp_path, spark):
        from gdal_spark.sources import jdem as J

        cells = spark.createDataFrame([(0, 0, -1.0)],
                                      "gy long, gx long, val double")
        with pytest.raises(Exception, match="decimeter"):
            J.write_jdem(cells, str(tmp_path / "r.mem"), 1, 1)


# ---------------------------------------------------------------------------
# AVCE00 codec (ogr/ogrsf_frmts/avc/avc_e00gen.cpp)
# ---------------------------------------------------------------------------

class TestAvce00:
    def test_fixed_width_layout(self):
        from gdal_spark.sources import avce00 as E

        arcs = [{"arc_id": 1, "user_id": 1, "fnode": 2, "tnode": 3,
                 "lpoly": 0, "rpoly": 4,
                 "xy": np.array([[1.5, -2.0], [3.0, 4.0], [5.0, 6.0]])}]
        buf = E.arcs_e00_bytes(arcs).decode()
        lines = buf.splitlines()
        assert lines[0].startswith("EXP  0")
        assert lines[1] == "ARC  2"
        assert lines[2] == f"{1:10d}{1:10d}{2:10d}{3:10d}{0:10d}{4:10d}{3:10d}"
        # 2 pairs on the first vertex line (4 × 14-char fields)
        assert len(lines[3]) == 56
        assert lines[3][:14] == " 1.5000000E+00"
        assert lines[3][14:28] == "-2.0000000E+00"
        # odd count -> final line has 1 pair
        assert len(lines[4]) == 28
        assert lines[5].startswith(f"{-1:10d}")
        assert lines[-1] == "END"
        back = E.parse_e00_arcs(buf.encode())
        assert len(back) == 1 and back[0]["rpoly"] == 4
        assert np.array_equal(back[0]["xy"], arcs[0]["xy"])

    def test_parse_rejects_bad(self):
        from gdal_spark.sources import avce00 as E

        with pytest.raises(ValueError, match="EXP"):
            E.parse_e00_arcs(b"NOPE\n")
        with pytest.raises(ValueError, match="ARC"):
            E.parse_e00_arcs(b"EXP  0 X\nEND\n")

    def test_spark_roundtrip(self, tmp_path, spark):
        from gdal_spark.sources import avce00 as E

        verts = spark.createDataFrame(
            [(1, 0, 0.0, 0.0, 10, 11, 1, 2), (1, 1, 1.5, 2.5, 10, 11, 1, 2),
             (2, 0, 5.0, 5.0, 11, 12, 2, 3), (2, 1, 6.0, 7.0, 11, 12, 2, 3),
             (2, 2, 8.0, 9.0, 11, 12, 2, 3)],
            "arc_id long, seq long, x double, y double, fnode long, "
            "tnode long, lpoly long, rpoly long")
        d = str(tmp_path / "cov")
        n = E.write_arc_e00s(verts, d, 2)
        assert n == 2
        back = E.read_arc_e00s(spark, d).toPandas()
        assert len(back) == 5
        a2 = back[back["arc_id"] == 2].sort_values("seq")
        assert list(a2["x"]) == [5.0, 6.0, 8.0]
        assert list(a2["rpoly"]) == [3, 3, 3]


# ---------------------------------------------------------------------------
# ILWIS codec (frmts/ilwis/ilwisdataset.cpp)
# ---------------------------------------------------------------------------

class TestIlwis:
    def test_odf_keys_and_roundtrip(self, tmp_path, spark):
        from gdal_spark.sources import ilwis as I

        w, h = 5, 4
        cells = spark.range(w * h).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 2).cast("double").alias("val"),
        )
        p = str(tmp_path / "m.mpr")
        I.write_ilwis(cells, p, w, h, dtype="i4", block_rows=2)
        text = open(p).read()
        assert "[MapStore]" in text and "Type=Long" in text
        assert f"Size={h} {w}" in text  # rows first, the ILWIS order
        hdr = I.parse_mpr(p)
        assert (hdr["w"], hdr["h"], hdr["dtype"]) == (w, h, "<i4")
        # store is top-down row-major
        raw = np.fromfile(hdr["store"], dtype="<i4").reshape(h, w)
        assert raw[0, 1] == 2 and raw[1, 0] == 2 * w
        back = I.read_ilwis(spark, p, block_rows=2)
        j = back.join(cells.withColumnRenamed("val", "v0"), ["gy", "gx"])
        assert j.count() == w * h
        assert j.filter("val != v0").count() == 0

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import ilwis as I

        p = str(tmp_path / "bad.mpr")
        open(p, "w").write("[Ilwis]\nType=Table\n")
        with pytest.raises(ValueError, match="BaseMap"):
            I.parse_mpr(p)
        open(p, "w").write("[Ilwis]\nType=BaseMap\n[Map]\nSize=2 2\n"
                           "[MapStore]\nType=Complex\nData=x.mp#\n")
        with pytest.raises(ValueError, match="store type"):
            I.parse_mpr(p)


# ---------------------------------------------------------------------------
# GXF codec (frmts/gxf/gxfopen.c)
# ---------------------------------------------------------------------------

class TestGxf:
    def test_header_records_and_sense1(self, tmp_path, spark):
        from gdal_spark.sources import gxf as G

        w, h = 4, 3
        cells = spark.range(w * h).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 0.5).cast("double").alias("val"),
        )
        p = str(tmp_path / "g.gxf")
        G.write_gxf(cells, p, w, h)
        text = open(p).read()
        assert "#POINTS\n4\n" in text and "#ROWS\n3\n" in text
        assert "#SENSE\n1\n" in text
        hdr = G.parse_gxf_header(p)
        assert (hdr["w"], hdr["h"], hdr["sense"]) == (w, h, 1)
        # sense 1: first scanline after #GRID is the SOUTH row (gy=h-1)
        first_line = text.split("#GRID\n", 1)[1].splitlines()[0]
        assert float(first_line.split()[0]) == (h - 1) * w * 0.5
        back = G.read_gxf(spark, p, block_rows=2)
        j = back.join(cells.withColumnRenamed("val", "v0"), ["gy", "gx"])
        assert j.count() == w * h
        assert j.filter("val != v0").count() == 0

    def test_foreign_wrap_and_sense_minus2(self, tmp_path, spark):
        from gdal_spark.sources import gxf as G

        # foreign writer: sense -2 (north row first), wrapped 2/line
        txt = ("#POINTS\n3\n#ROWS\n2\n#SENSE\n-2\n#DUMMY\n-99\n#GRID\n"
               "1 2\n3\n4 -99\n6\n")
        p = str(tmp_path / "f.gxf")
        open(p, "w").write(txt)
        back = G.read_gxf(spark, p).toPandas().sort_values(
            ["gy", "gx"]).reset_index(drop=True)
        assert len(back) == 5  # dummy dropped
        assert list(back.loc[back["gy"] == 0, "val"]) == [1.0, 2.0, 3.0]
        assert list(back.loc[back["gy"] == 1, "val"]) == [4.0, 6.0]

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import gxf as G

        p = str(tmp_path / "x.gxf")
        open(p, "w").write("#POINTS\n2\n#ROWS\n2\n")
        with pytest.raises(ValueError, match="GRID"):
            G.parse_gxf_header(p)
        open(p, "w").write("#POINTS\n2\n#ROWS\n2\n#SENSE\n4\n#GRID\n1\n")
        with pytest.raises(ValueError, match="SENSE"):
            G.parse_gxf_header(p)


# ---------------------------------------------------------------------------
# Leveller TER codec (frmts/leveller/levellerdataset.cpp)
# ---------------------------------------------------------------------------

class TestLeveller:
    def test_tag_chain_and_roundtrip(self, tmp_path, spark):
        import struct

        from gdal_spark.sources import leveller as L

        w, h = 5, 4
        cells = spark.range(w * h).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 0.5 + 10.0).cast("double").alias("val"),
        )
        p = str(tmp_path / "t.ter")
        L.write_leveller(cells, p, w, h, em_scale=0.5, em_base=10.0,
                         block_rows=2)
        raw = open(p, "rb").read()
        assert raw[:4] == b"trrn" and raw[4] == 7
        # first tag: u8 len(4) + 'hf_w' + u32 datalen(4) + u32 value
        assert raw[5] == 4 and raw[6:10] == b"hf_w"
        assert struct.unpack_from("<I", raw, 10)[0] == 4
        assert struct.unpack_from("<I", raw, 14)[0] == w
        tags = L.walk_tags(p)
        assert set(tags) >= {"hf_w", "hf_b", "hf_data",
                             "coordsys_em_scale"}
        hdr = L.parse_header(p)
        assert (hdr["w"], hdr["h"], hdr["scale"], hdr["base"]) == \
            (w, h, 0.5, 10.0)
        # hf_data raw value for gy=0,gx=2: (11.0-10)/0.5 = 2
        off = tags["hf_data"][0]
        assert struct.unpack_from("<f", raw, off + 2 * 4)[0] == 2.0
        back = L.read_leveller(spark, p, block_rows=2)
        j = back.join(cells.withColumnRenamed("val", "v0"), ["gy", "gx"])
        assert j.count() == w * h
        assert j.filter("val != v0").count() == 0

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import leveller as L

        p = str(tmp_path / "bad.ter")
        open(p, "wb").write(b"XXXX\x07")
        with pytest.raises(ValueError, match="magic"):
            L.walk_tags(p)
        open(p, "wb").write(b"trrn\x07\x00")
        with pytest.raises(ValueError, match="descriptor"):
            L.walk_tags(p)
        open(p, "wb").write(b"trrn\x07")
        with pytest.raises(ValueError, match="hf_w"):
            L.parse_header(p)


# ---------------------------------------------------------------------------
# CTG codec (frmts/ctg/ctgdataset.cpp)
# ---------------------------------------------------------------------------

class TestCtg:
    def test_80_byte_records_no_terminators(self, tmp_path, spark):
        from gdal_spark.sources import ctg as C

        w, h = 4, 3
        cells = spark.range(6 * w * h).select(
            (F.col("id") / (w * h)).cast("long").alias("band"),
            ((F.col("id") % (w * h)) / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") % 50).cast("long").alias("val"),
        )
        p = str(tmp_path / "grid_cell")
        C.write_ctg(cells, p, w, h, cell=200, zone=15,
                    nw_easting=400000, nw_northing=5000000, block_cells=5)
        raw = open(p, "rb").read()
        assert len(raw) == (5 + w * h) * 80
        assert b"\n" not in raw  # terminator-free 80-byte records
        hdr = C.parse_header(p)
        assert (hdr["w"], hdr["h"], hdr["cell"], hdr["zone"]) == \
            (w, h, 200, 15)
        # first data record: zone 15, center of cell (0,0)
        rec = raw[5 * 80:6 * 80].decode()
        assert int(rec[0:3]) == 15
        assert int(rec[3:11]) == 400000 + 100
        assert int(rec[11:19]) == 5000000 - 100
        back = C.read_ctg(spark, p, block_cells=5)
        j = back.join(cells.withColumnRenamed("val", "v0"),
                      ["band", "gy", "gx"])
        assert j.count() == 6 * w * h
        assert j.filter("val != v0").count() == 0

    def test_huge_values_read_as_zero_and_zone_check(self, tmp_path,
                                                     spark):
        from gdal_spark.sources import ctg as C

        cells = spark.createDataFrame(
            [(0, 0, 0, 7)], "band long, gy long, gx long, val long")
        p = str(tmp_path / "g")
        C.write_ctg(cells, p, 1, 1, zone=10)
        raw = bytearray(open(p, "rb").read())
        # splice a >=2e9 value into band 1's field
        raw[5 * 80 + 30:5 * 80 + 40] = b"2000000001"
        open(p, "wb").write(bytes(raw))
        back = C.read_ctg(spark, p).toPandas()
        assert back.loc[back["band"] == 1, "val"].iloc[0] == 0
        assert back.loc[back["band"] == 0, "val"].iloc[0] == 7
        # corrupt the record zone -> read must fail
        raw[5 * 80:5 * 80 + 3] = b" 11"
        open(p, "wb").write(bytes(raw))
        with pytest.raises(Exception, match="zone"):
            C.read_ctg(spark, p).collect()

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import ctg as C

        p = str(tmp_path / "bad")
        open(p, "wb").write(b" " * 100)
        with pytest.raises(ValueError, match="truncated"):
            C.parse_header(p)
        open(p, "wb").write(C.header_bytes(2, 2, 0, 15, 0, 0))
        with pytest.raises(ValueError, match="cell size"):
            C.parse_header(p)


# ---------------------------------------------------------------------------
# MRF codec (frmts/mrf/; NASA Meta Raster Format)
# ---------------------------------------------------------------------------

class TestMrf:
    def test_triplet_layout_and_roundtrip(self, tmp_path, spark):
        import struct

        from gdal_spark.sources import mrf as M

        w, h = 10, 7  # ragged pages with page=4: 3x2 grid
        cells = spark.range(w * h).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") % 256).cast("long").alias("val"),
        )
        import os

        p = str(tmp_path / "t.mrf")
        M.write_mrf(cells, p, w, h, page=4)
        hdr = M.parse_mrf(p)
        assert (hdr["w"], hdr["h"], hdr["page"]) == (w, h, 4)
        idx = open(str(tmp_path / "t.idx"), "rb").read()
        px, py = 3, 2
        assert len(idx) == 16 * px * py
        off0, ln0 = struct.unpack_from(">2q", idx, 0)
        assert off0 == 0 and ln0 > 0
        # data file is exactly the sum of page lengths
        total = sum(struct.unpack_from(">2q", idx, 16 * i)[1]
                    for i in range(px * py))
        assert os.path.getsize(str(tmp_path / "t.ppg")) == total
        # pages are PNG blobs
        dat = open(str(tmp_path / "t.ppg"), "rb").read()
        assert dat[:8] == b"\x89PNG\r\n\x1a\n"
        back = M.read_mrf(spark, p)
        j = back.join(cells.withColumnRenamed("val", "v0"), ["gy", "gx"])
        assert j.count() == w * h
        assert j.filter("val != v0").count() == 0

    def test_empty_pages_skipped(self, tmp_path, spark):
        from gdal_spark.sources import mrf as M

        # only one page of a 2x2 page grid has data
        cells = spark.createDataFrame(
            [(0, 0, 9), (1, 1, 3)], "gy long, gx long, val long")
        p = str(tmp_path / "e.mrf")
        M.write_mrf(cells, p, 8, 8, page=4)
        import struct

        idx = open(str(tmp_path / "e.idx"), "rb").read()
        recs = [struct.unpack_from(">2q", idx, 16 * i) for i in range(4)]
        assert recs[0][1] > 0 and recs[1] == (0, 0) == recs[2]
        back = M.read_mrf(spark, p).toPandas()
        # only the live page's 16 cells come back
        assert len(back) == 16
        assert back.loc[(back["gy"] == 0) & (back["gx"] == 0),
                        "val"].iloc[0] == 9

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import mrf as M

        p = str(tmp_path / "bad.mrf")
        open(p, "w").write("<xml/>")
        with pytest.raises(ValueError, match="MRF_META"):
            M.parse_mrf(p)
        open(p, "w").write(M.mrf_xml(4, 4, 2).replace("PNG", "LERC"))
        with pytest.raises(ValueError, match="LERC"):
            M.parse_mrf(p)


class TestSurfer7:
    def test_tagged_sections(self, tmp_path, spark):
        import struct

        from gdal_spark.sources import surfer as S

        w, h = 5, 4
        cells = spark.range(w * h).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 0.25).cast("double").alias("val"),
        ).filter(F.col("id") % 6 != 0)
        p = str(tmp_path / "7.grd")
        S.write_gs7bg(cells, p, w, h, xlo=1.0, ylo=2.0, cell=0.5,
                      block_rows=2)
        raw = open(p, "rb").read()
        assert raw[:4] == b"DSRB"
        assert struct.unpack_from("<2i", raw, 4) == (4, 1)
        assert raw[12:16] == b"GRID"
        assert struct.unpack_from("<i", raw, 16)[0] == 72
        assert struct.unpack_from("<2i", raw, 20) == (h, w)  # rows first
        hdr = S.parse_gs7bg_header(p)
        assert (hdr["w"], hdr["h"], hdr["dx"]) == (w, h, 0.5)
        assert hdr["blank"] == S.BLANK_F64
        back = S.read_gs7bg(spark, p, block_rows=2)
        assert back.count() == cells.count()
        j = back.join(cells.select("gy", "gx", F.col("val").alias("v0")),
                      ["gy", "gx"])
        assert j.filter("val != v0").count() == 0

    def test_skips_foreign_sections_and_rejects_bad(self, tmp_path,
                                                    spark):
        import struct

        from gdal_spark.sources import surfer as S

        cells = spark.createDataFrame([(0, 0, 5.0)],
                                      "gy long, gx long, val double")
        p = str(tmp_path / "x.grd")
        S.write_gs7bg(cells, p, 1, 1)
        raw = open(p, "rb").read()
        # splice an unknown 10-byte section between version and GRID
        spliced = raw[:12] + struct.pack("<2i", 0x12345678, 10) + \
            b"\x00" * 10 + raw[12:]
        p2 = str(tmp_path / "y.grd")
        open(p2, "wb").write(spliced)
        hdr = S.parse_gs7bg_header(p2)
        assert (hdr["w"], hdr["h"]) == (1, 1)
        back = S.read_gs7bg(spark, p2).toPandas()
        assert list(back["val"]) == [5.0]
        open(p2, "wb").write(b"XXXX" + raw[4:])
        with pytest.raises(ValueError, match="DSRB"):
            S.parse_gs7bg_header(p2)

    def test_empty_input_is_all_blank(self, tmp_path, spark):
        from gdal_spark.sources import surfer as S

        p = str(tmp_path / "e.grd")
        S.write_gs7bg(spark.createDataFrame([], "gy long, gx long, val double"), p, 3, 2)
        hdr = S.parse_gs7bg_header(p)
        assert (hdr["zmin"], hdr["zmax"]) == (0.0, 0.0)
        assert S.read_gs7bg(spark, p).count() == 0


# ---------------------------------------------------------------------------
# Northwood GRD codec (frmts/northwood/grddataset.cpp)
# ---------------------------------------------------------------------------

class TestNwtGrd:
    def test_header_and_quantization(self, tmp_path, spark):
        import struct

        from gdal_spark.sources import nwtgrd as N

        w, h = 5, 4
        cells = spark.range(w * h).select(
            (F.col("id") / w).cast("long").alias("gy"),
            (F.col("id") % w).alias("gx"),
            (F.col("id") * 0.5).cast("double").alias("val"),
        ).filter(F.col("id") % 7 != 0)  # punched nulls
        p = str(tmp_path / "t.grd")
        N.write_nwtgrd(cells, p, w, h, zmin=0.0, zmax=65534 * 0.5,
                       block_rows=2)
        raw = open(p, "rb").read()
        assert raw[:5] == b"HGPC1"
        assert struct.unpack_from("<2H", raw, 9) == (w, h)
        hdr = N.parse_header(p)
        assert hdr["zmin"] == 0.0 and hdr["zmax"] == 65534 * 0.5
        # raw samples: null marker 0 where holes, k+1 elsewhere
        samp = np.frombuffer(raw[1024:], dtype="<u2").reshape(h, w)
        assert samp[0, 0] == 0          # id 0 punched
        assert samp[0, 2] == 3          # val 1.0 / 0.5 = 2 -> raw 3
        back = N.read_nwtgrd(spark, p, block_rows=2)
        assert back.count() == cells.count()
        j = back.join(cells.select("gy", "gx", F.col("val").alias("v0")),
                      ["gy", "gx"])
        assert j.filter("val != v0").count() == 0

    def test_u32_size_fallback(self, tmp_path):
        import struct

        from gdal_spark.sources import nwtgrd as N

        hdr = bytearray(N.header_bytes(70000, 3, minx=0, maxx=1, miny=0,
                                       maxy=1, zmin=0, zmax=1))
        p = str(tmp_path / "big.grd")
        open(p, "wb").write(bytes(hdr))
        got = N.parse_header(p)
        assert got["w"] == 70000 and got["h"] == 3

    def test_parse_rejects_bad(self, tmp_path):
        from gdal_spark.sources import nwtgrd as N

        p = str(tmp_path / "bad.grd")
        open(p, "wb").write(b"XXXXX" + b"\x00" * 1019)
        with pytest.raises(ValueError, match="HGPC1"):
            N.parse_header(p)

    def test_empty_input_is_all_null(self, tmp_path, spark):
        from gdal_spark.sources import nwtgrd as N

        p = str(tmp_path / "e.grd")
        N.write_nwtgrd(spark.createDataFrame([], "gy long, gx long, val double"), p, 3, 2)
        assert N.read_nwtgrd(spark, p).count() == 0
