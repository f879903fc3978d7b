"""Round-5 format-driver codecs: SRTM HGT, XYZ ASCII grid, ENVI BSQ, DXF.

Reference semantics: frmts/srtmhgt/srtmhgtdataset.cpp, frmts/xyz/
xyzdataset.cpp, frmts/raw/envidataset.cpp, ogr/ogrsf_frmts/dxf/ — all
re-derived from the public format documentation (NOT ports).
"""

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.sources import dxf as DXF
from gdal_spark.sources import envi as ENVI
from gdal_spark.sources import srtmhgt as HGT
from gdal_spark.sources import xyz as XYZ


# ---------------------------------------------------------------------------
# SRTM HGT codec
# ---------------------------------------------------------------------------

def test_hgt_name_codec():
    assert HGT.hgt_name(51, 10) == "N51E010.hgt"
    assert HGT.hgt_name(-34, -71) == "S34W071.hgt"
    assert HGT.parse_hgt_name("/x/N51E010.hgt") == (51, 10)
    assert HGT.parse_hgt_name("S34W071.hgt") == (-34, -71)
    with pytest.raises(ValueError):
        HGT.parse_hgt_name("tile_3.hgt")


def test_hgt_bytes_big_endian_square():
    arr = np.arange(9, dtype=np.int16).reshape(3, 3)
    buf = HGT.hgt_bytes(arr)
    assert len(buf) == 18
    assert buf[:2] == b"\x00\x00" and buf[2:4] == b"\x00\x01"  # BE
    back = HGT.parse_hgt(buf)
    assert np.array_equal(back, arr)
    with pytest.raises(ValueError):
        HGT.parse_hgt(buf[:-2])  # 8 values: not a square
    with pytest.raises(ValueError):
        HGT.hgt_bytes(np.zeros((2, 3), dtype=np.int16))


def test_hgt_spark_roundtrip_voids_dropped(spark):
    n = 33
    d = tempfile.mkdtemp(prefix="hgt_rt_")
    cells = spark.range(2 * n * n).select(
        (F.lit(50) + (F.col("id") / (n * n)).cast("long")).alias("lat_sw"),
        F.lit(10).alias("lon_sw"),
        ((F.col("id") % (n * n)) / n).cast("long").alias("row"),
        (F.col("id") % n).alias("col"),
        ((F.col("id") % 97) - 10).alias("elev"),
    ).filter((F.col("row") * 7 + F.col("col") * 11) % 13 != 0)
    n_files = HGT.write_hgt_tiles(cells, d, n=n)
    assert n_files == 2
    assert sorted(os.listdir(d)) == ["N50E010.hgt", "N51E010.hgt"]
    back = HGT.read_hgt(spark, d)
    assert back.count() == cells.count()  # voids vanished
    # georef: row 0 = north edge = lat_sw + 1
    top = back.filter((F.col("row") == 0) & (F.col("lat_sw") == 51)) \
        .agg(F.min("lat"), F.max("lat")).collect()[0]
    assert top[0] == top[1] == 52.0
    # values survive exactly
    chk = back.filter((F.col("lat_sw") == 50) & (F.col("row") == 1)
                      & (F.col("col") == 2)).collect()[0]
    assert chk["elev"] == (n + 2) % 97 - 10


@pytest.mark.parametrize("fmt", ["kml", "xlsx"])
def test_doc_writer_leaves_only_its_files(spark, tmp_path, fmt):
    """The document kernel writes each file under a dot-prefixed name in
    the target directory and renames it into place: afterwards the
    directory holds the driver's files and nothing else."""
    from gdal_spark.sources import kml, xlsx

    write = {"kml": kml.write_point_kmls, "xlsx": xlsx.write_point_xlsxs}
    df = spark.range(40).select(F.col("id").alias("k"),
                                (F.col("id") * 0.5).alias("x"),
                                (F.col("id") * 0.25).alias("y"))
    d = str(tmp_path / fmt)
    assert write[fmt](df, d, "x", "y", ["k"], 4) == 4
    assert sorted(os.listdir(d)) == [f"part-{i:05d}.{fmt}" for i in range(4)]


# ---------------------------------------------------------------------------
# XYZ ASCII grid
# ---------------------------------------------------------------------------

def test_xyz_spark_roundtrip_exact(spark):
    d = tempfile.mkdtemp(prefix="xyz_rt_") + "/grid"
    w = 32
    cells = spark.range(w * w).select(
        (F.col("id") % w).alias("gx"),
        (F.col("id") / w).cast("long").alias("gy"),
        (F.col("id").cast("double") * 0.25 - 7.5).alias("val"),
    )
    XYZ.write_xyz(cells, d, xll=10.0, yll_top=50.0, cellsize=1.0 / 1024.0)
    back = XYZ.read_xyz(spark, d, xll=10.0, yll_top=50.0,
                        cellsize=1.0 / 1024.0)
    assert back.count() == w * w
    joined = back.join(cells.withColumnRenamed("val", "want"),
                       ["gx", "gy"])
    assert joined.filter(F.col("val") != F.col("want")).count() == 0


def test_xyz_read_is_splittable_text_scan(spark):
    """The XYZ read plan must be a text scan + projection — no Python, no
    shuffle (the 100 TB contract for ASCII dumps)."""
    import io
    from contextlib import redirect_stdout

    d = tempfile.mkdtemp(prefix="xyz_plan_") + "/grid"
    cells = spark.range(16).select(
        F.col("id").alias("gx"), F.lit(0).alias("gy"),
        F.col("id").cast("double").alias("val"))
    XYZ.write_xyz(cells, d, xll=0.0, yll_top=1.0, cellsize=1.0)
    df = XYZ.read_xyz(spark, d, xll=0.0, yll_top=1.0, cellsize=1.0)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# ENVI header + BSQ raw
# ---------------------------------------------------------------------------

def test_envi_hdr_roundtrip(tmp_path):
    p = str(tmp_path / "img.hdr")
    with open(p, "wb") as fh:
        fh.write(ENVI.hdr_bytes(64, 48, 3, 4, 10.0, 50.0, 0.5, 0.5))
    hdr = ENVI.parse_hdr(p)
    assert (hdr["samples"], hdr["lines"], hdr["bands"]) == (64, 48, 3)
    assert hdr["dtype_code"] == 4 and hdr["interleave"] == "bsq"
    assert hdr["map_info"]["xll"] == 10.0 and hdr["map_info"]["dx"] == 0.5


def test_envi_rejects_unsupported(tmp_path):
    p = str(tmp_path / "bad.hdr")
    open(p, "w").write("ENVI\nsamples = 4\nlines = 4\nbands = 1\n"
                       "data type = 4\ninterleave = bip\n")
    with pytest.raises(NotImplementedError):
        ENVI.parse_hdr(p)
    open(p, "w").write("not a header")
    with pytest.raises(ValueError):
        ENVI.parse_hdr(p)


@pytest.mark.parametrize("dtype", ["f4", "i2", "u1"])
def test_envi_spark_roundtrip_bsq(spark, dtype):
    w = h = 48
    bands = 2
    d = tempfile.mkdtemp(prefix="envi_rt_")
    hdr = f"{d}/img.hdr"
    cells = spark.range(bands * w * h).select(
        (F.col("id") / (w * h)).cast("long").alias("band"),
        ((F.col("id") % (w * h)) / w).cast("long").alias("gy"),
        (F.col("id") % w).alias("gx"),
        ((F.col("id") % 91) + 1).cast("double").alias("val"),
    )
    ENVI.write_envi(cells, hdr, w, h, bands, dtype=dtype, block_rows=16)
    # raw size is exact: bands * w * h * itemsize
    item = {"f4": 4, "i2": 2, "u1": 1}[dtype]
    assert os.path.getsize(f"{d}/img.img") == bands * w * h * item
    back = ENVI.read_envi(spark, hdr, block_rows=16)
    assert back.count() == bands * w * h
    joined = back.join(
        cells.withColumnRenamed("val", "want"), ["band", "gy", "gx"])
    assert joined.filter(F.col("val") != F.col("want")).count() == 0


# ---------------------------------------------------------------------------
# DXF pair-stream codec
# ---------------------------------------------------------------------------

def test_dxf_bytes_grammar():
    buf = DXF.dxf_bytes(
        points=[("42", 1.5, -2.25)],
        polylines=[("poly", [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0)], True)],
    )
    text = buf.decode("ascii")
    assert text.startswith("0\nSECTION\n2\nHEADER\n")
    assert "$ACADVER" in text and "AC1015" in text
    assert "0\nPOINT\n8\n42\n10\n1.5\n20\n-2.25" in text
    assert "0\nLWPOLYLINE\n8\npoly\n90\n3\n70\n1" in text
    assert text.rstrip().endswith("0\nEOF")


def test_dxf_parse_roundtrip_exact_doubles():
    pts = [("a", 0.1 + 0.2, 48.858844300000001), ("b", -180.0, 85.05112878)]
    pls = [("r1", [(1.0 / 3.0, 2.0 / 7.0), (5.5, 6.25)], False)]
    got_pts, got_pls = DXF.parse_dxf(DXF.dxf_bytes(pts, pls))
    assert got_pts == [(k, x, y) for k, x, y in pts]
    assert got_pls == pls


def test_dxf_parse_skips_unknown_entities():
    buf = ("0\nSECTION\n2\nENTITIES\n0\nCIRCLE\n8\n0\n10\n1.0\n20\n2.0\n"
           "40\n3.0\n0\nPOINT\n8\nk\n10\n7.0\n20\n8.0\n0\nENDSEC\n0\nEOF\n"
           ).encode()
    pts, pls = DXF.parse_dxf(buf)
    assert pts == [("k", 7.0, 8.0)] and pls == []


def test_dxf_spark_points_roundtrip(spark):
    d = tempfile.mkdtemp(prefix="dxf_rt_") + "/pts"
    df = spark.range(200).select(
        F.col("id").cast("string").alias("k"),
        (F.col("id").cast("double") / 7.0).alias("lon"),
        (F.col("id").cast("double") / 11.0 - 5.0).alias("lat"),
    )
    n_files = DXF.write_point_dxfs(df, d, "k", num_files=3)
    assert n_files == 3
    back = DXF.read_point_dxfs(spark, d)
    assert back.count() == 200
    j = back.join(df.withColumnRenamed("lon", "wlon")
                  .withColumnRenamed("lat", "wlat"),
                  back["layer"] == df["k"])
    assert j.filter((F.col("lon") != F.col("wlon"))
                    | (F.col("lat") != F.col("wlat"))).count() == 0


def test_dxf_spark_polylines_roundtrip(spark):
    d = tempfile.mkdtemp(prefix="dxf_pl_") + "/pl"
    df = spark.createDataFrame(
        [("p0", [0.0, 2.0, 2.0, 0.0, 0.0], [0.0, 0.0, 1.5, 1.5, 0.0]),
         ("p1", [5.0, 6.0, 7.0], [5.0, 7.0, 5.0])],
        "k string, xs array<double>, ys array<double>")
    DXF.write_polyline_dxfs(df, d, "k", num_files=1)
    back = DXF.read_polyline_dxfs(spark, d).collect()
    got = {r["layer"]: (list(r["xs"]), list(r["ys"]), r["closed"])
           for r in back}
    assert got["p0"] == ([0.0, 2.0, 2.0, 0.0, 0.0],
                         [0.0, 0.0, 1.5, 1.5, 0.0], True)
    assert got["p1"] == ([5.0, 6.0, 7.0], [5.0, 7.0, 5.0], True)


# ---------------------------------------------------------------------------
# PNM (P5/P6) codec
# ---------------------------------------------------------------------------

def test_pnm_header_and_roundtrip():
    from gdal_spark.sources import pnm as PNM

    arr = np.arange(12, dtype=np.uint8).reshape(3, 4)
    buf = PNM.pnm_bytes(arr)
    assert buf.startswith(b"P5\n4 3\n255\n")
    hdr, back = PNM.parse_pnm(buf)
    assert hdr == {"magic": "P5", "width": 4, "height": 3, "maxval": 255}
    assert np.array_equal(back, arr)
    # 16-bit path: big-endian two-byte samples
    wide = (np.arange(6, dtype=np.int64).reshape(2, 3) * 9999)
    buf2 = PNM.pnm_bytes(wide, maxval=65535)
    _, back2 = PNM.parse_pnm(buf2)
    assert np.array_equal(back2, wide)
    assert buf2[len(b"P5\n3 2\n65535\n"):][:2] == b"\x00\x00"
    # P6 RGB
    rgb = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    hdr3, back3 = PNM.parse_pnm(PNM.pnm_bytes(rgb))
    assert hdr3["magic"] == "P6" and np.array_equal(back3, rgb)


def test_pnm_comments_and_errors():
    from gdal_spark.sources import pnm as PNM

    arr = np.ones((2, 2), dtype=np.uint8)
    buf = PNM.pnm_bytes(arr)
    commented = b"P5\n# a comment\n2 2\n# more\n255\n" + buf[len(b"P5\n2 2\n255\n"):]
    _, back = PNM.parse_pnm(commented)
    assert np.array_equal(back, arr)
    with pytest.raises(ValueError):
        PNM.pnm_bytes(np.zeros((2, 2, 2), dtype=np.uint8))
    with pytest.raises(ValueError):
        PNM.parse_pnm(b"P3\n1 1\n255\n1 2 3\n")  # ASCII PNM: out of scope


def test_pnm_spark_roundtrip(spark):
    from gdal_spark.sources import pnm as PNM

    d = tempfile.mkdtemp(prefix="pnm_rt_")
    w = 32
    cells = spark.range(w * w).select(
        (F.col("id") % w).alias("gx"),
        (F.col("id") / w).cast("long").alias("gy"),
        ((F.col("id") * 7) % 60000).alias("val"),
    )
    n = PNM.write_gray_pnms(cells, d, width=w, height=w, block_rows=8,
                            maxval=65535)
    assert n == 4
    back = PNM.read_gray_pnms(spark, d, block_rows=8)
    j = back.join(cells.withColumnRenamed("val", "want"), ["gx", "gy"])
    assert j.count() == w * w
    assert j.filter(F.col("val") != F.col("want")).count() == 0


# ---------------------------------------------------------------------------
# GTX codec
# ---------------------------------------------------------------------------

def test_gtx_header_roundtrip(tmp_path):
    from gdal_spark.sources import gtx as GTX

    p = str(tmp_path / "v.gtx")
    arr = np.zeros((4, 6), dtype=np.float64)
    GTX.write_gtx(arr, p, lat0=-37.5, lon0=140.0, dlat=0.25, dlon=0.5)
    h = GTX.parse_gtx_header(p)
    assert (h["lat0"], h["lon0"], h["dlat"], h["dlon"]) == (
        -37.5, 140.0, 0.25, 0.5)
    assert (h["rows"], h["cols"]) == (4, 6)
    import os as _os
    assert _os.path.getsize(p) == 40 + 4 * 6 * 4
    # big-endian doubles in the header
    raw = open(p, "rb").read(8)
    import struct as _s
    assert _s.unpack(">d", raw)[0] == -37.5
    with open(p, "wb") as fh:
        fh.write(b"\x00" * 40)
    with pytest.raises(ValueError):
        GTX.parse_gtx_header(p)


def test_gtx_spark_read_nodata(spark, tmp_path):
    from gdal_spark.sources import gtx as GTX

    p = str(tmp_path / "v.gtx")
    arr = np.arange(64, dtype=np.float64).reshape(8, 8) - 10.0
    arr[2, 3] = GTX.NODATA
    arr[7, 0] = GTX.NODATA
    GTX.write_gtx(arr, p, lat0=40.0, lon0=10.0, dlat=0.125, dlon=0.125)
    back = GTX.read_gtx(spark, p, block_rows=3)
    rows = back.collect()
    assert len(rows) == 62
    got = {(r["row"], r["col"]): (r["shift"], r["lat"], r["lon"])
           for r in rows}
    assert (2, 3) not in got and (7, 0) not in got
    assert got[(5, 6)] == (float(arr[5, 6]), 40.0 + 5 * 0.125,
                           10.0 + 6 * 0.125)


# ---------------------------------------------------------------------------
# GeoTIFF LZW / PackBits / Predictor=2
# ---------------------------------------------------------------------------

def test_geotiff_lzw_packbits_predictor_roundtrip():
    from gdal_spark.sources import geotiff as GT

    rng = np.random.RandomState(5)
    arr = rng.randint(-500, 500, (40, 56)).astype(np.int32)
    for comp, pred in [("lzw", 1), ("lzw", 2), ("packbits", 1),
                       ("deflate", 2), ("none", 2)]:
        buf = GT.write_geotiff_bytes(
            arr, (10.0, 50.0), (0.001, 0.001),
            compression=comp, predictor=pred, rows_per_strip=16)
        r = GT.GeoTIFF(buf)
        assert r.compression == GT._COMP_CODES[comp]
        assert r.predictor == pred
        assert np.array_equal(r.read_array(), arr)
    # lzw + predictor beats raw size on smooth data
    smooth = np.cumsum(np.ones((64, 64)), axis=1).astype(np.int32)
    lz = GT.write_geotiff_bytes(smooth, (0, 0), (1, 1),
                                compression="lzw", predictor=2)
    raw = GT.write_geotiff_bytes(smooth, (0, 0), (1, 1))
    assert len(lz) < len(raw) / 2


def test_geotiff_predictor_rejects_float():
    from gdal_spark.sources import geotiff as GT

    with pytest.raises(ValueError):
        GT.write_geotiff_bytes(np.ones((4, 4), dtype=np.float64),
                               (0, 0), (1, 1), predictor=2)


def test_bmp_truecolor_and_padding():
    from gdal_spark.sources import bmp as BMP

    rng = np.random.RandomState(7)
    # odd width -> 3*5=15-byte rows padded to 16
    rgb = rng.randint(0, 256, (4, 5, 3)).astype(np.uint8)
    buf = BMP.bmp_bytes(rgb)
    assert buf[:2] == b"BM"
    hdr, back = BMP.parse_bmp(buf)
    assert (hdr["width"], hdr["height"], hdr["bits"]) == (5, 4, 24)
    assert np.array_equal(back, rgb)
    # stride is 4-aligned: offset 54 + 16*4 rows
    assert len(buf) == 54 + 16 * 4


def test_bmp_paletted_roundtrip():
    from gdal_spark.sources import bmp as BMP

    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]],
                   dtype=np.uint8)
    idx = np.array([[0, 1, 2], [3, 2, 1]], dtype=np.uint8)
    hdr, back = BMP.parse_bmp(BMP.bmp_bytes(idx, palette=pal))
    assert hdr["bits"] == 8
    assert np.array_equal(back, idx)
    assert np.array_equal(hdr["palette"], pal)


def test_bmp_errors():
    import pytest

    from gdal_spark.sources import bmp as BMP

    with pytest.raises(ValueError, match="palette"):
        BMP.bmp_bytes(np.zeros((2, 2), np.uint8))
    with pytest.raises(ValueError, match="palette range"):
        BMP.bmp_bytes(np.full((2, 2), 9, np.uint8),
                      palette=np.zeros((4, 3), np.uint8))
    with pytest.raises(ValueError, match="magic"):
        BMP.parse_bmp(b"XX" + b"\0" * 60)


def test_gif_lzw_spec_golden_sample():
    """The public GIF spec walkthrough sample (10x10, 4 colors, min code
    size 2): decode must reproduce the documented index grid, and our
    encoder happens to emit the identical stream (same greedy LZW, same
    clear-at-start policy)."""
    from gdal_spark.sources import gif as G

    coded = bytes.fromhex("8C2D99872A1CDC33A00275EC95FAA8DE608C04914C01")
    expect = bytes(
        [1, 1, 1, 1, 1, 2, 2, 2, 2, 2] * 3
        + [1, 1, 1, 0, 0, 0, 0, 2, 2, 2] * 2
        + [2, 2, 2, 0, 0, 0, 0, 1, 1, 1] * 2
        + [2, 2, 2, 2, 2, 1, 1, 1, 1, 1] * 3)
    assert G._lzw_decode(coded, 2) == expect
    assert G._lzw_encode(expect, 2) == coded


def test_gif_lzw_width_growth_and_reset():
    from gdal_spark.sources import gif as G

    rng = np.random.RandomState(3)
    # 200k random bytes force 9->12-bit codes and 4096-entry clear resets
    data = bytes(rng.randint(0, 256, 200000).astype(np.uint8))
    assert G._lzw_decode(G._lzw_encode(data, 8), 8) == data
    run = b"\x05" * 70000  # KwKwK-heavy degenerate run
    assert G._lzw_decode(G._lzw_encode(run, 8), 8) == run


def test_gif_container_roundtrip_and_errors():
    import pytest

    from gdal_spark.sources import gif as G

    pal = np.array([[255, 255, 255], [255, 0, 0], [0, 0, 255]], np.uint8)
    arr = np.array([[0, 1, 2], [2, 1, 0]], np.uint8)
    hdr, back = G.parse_gif(G.gif_bytes(arr, pal))
    assert np.array_equal(back, arr)
    # palette padded to the power-of-two table size the format requires
    assert np.array_equal(hdr["palette"][:3], pal) and len(hdr["palette"]) == 4
    with pytest.raises(ValueError, match="magic"):
        G.parse_gif(b"NOTAGIF" + b"\0" * 20)
    with pytest.raises(ValueError, match="palette range"):
        G.gif_bytes(np.full((2, 2), 5, np.uint8), pal)


def test_topojson_shared_arcs_and_reversal():
    """A 4x4 cell grid must store each interior wall ONCE: 40 arcs, not
    the 64 naive edges; neighbors reference the shared wall as ~i."""
    import json

    from gdal_spark.sources import topojson as TJ

    q = 10
    feats = []
    for j in range(4):
        for i in range(4):
            ring = [(i * q, j * q), ((i + 1) * q, j * q),
                    ((i + 1) * q, (j + 1) * q), (i * q, (j + 1) * q),
                    (i * q, j * q)]
            feats.append((j * 4 + i, {"i": i}, [ring]))
    doc = TJ.encode_topology(feats, "cells", (0.001, 0.001), (0.0, 0.0))
    topo = json.loads(doc)
    assert len(topo["arcs"]) == 40  # 2*4*5 walls, each stored once
    refs = [r for g in topo["objects"]["cells"]["geometries"]
            for r in g["arcs"][0]]
    assert any(r < 0 for r in refs)  # reversed references present
    rows = TJ.decode_topology(doc, "cells")
    assert len(rows) == 16
    for fid, props, rings in rows:
        ring = rings[0]
        assert ring.shape == (5, 2)
        assert np.allclose(ring[0], ring[-1])
        x2 = sum(ring[k, 0] * ring[k + 1, 1] - ring[k + 1, 0] * ring[k, 1]
                 for k in range(4))
        assert abs(x2 - 2 * (q * 0.001) ** 2) < 1e-12  # CCW, exact area


def test_topojson_unquantized_and_errors():
    import pytest

    from gdal_spark.sources import topojson as TJ

    # transform-less Topology: arcs are absolute float positions
    doc = ('{"type":"Topology","objects":{"o":{"type":"GeometryCollection",'
           '"geometries":[{"type":"Polygon","arcs":[[0,1]],"id":7}]}},'
           '"arcs":[[[0.0,0.0],[1.0,0.0],[1.0,1.0]],[[1.0,1.0],[0.0,0.0]]]}')
    (fid, props, rings), = TJ.decode_topology(doc, "o")
    assert fid == 7 and rings[0].shape == (4, 2)
    with pytest.raises(ValueError, match="Topology"):
        TJ.decode_topology('{"type":"FeatureCollection"}', "o")
    with pytest.raises(ValueError, match="closed"):
        TJ.encode_topology([(1, {}, [[(0, 0), (1, 0)]])], "o",
                           (1.0, 1.0), (0.0, 0.0))


def test_mif_pair_roundtrip_and_errors():
    import pytest

    from gdal_spark.sources import mif as MIF

    rows = [(1.5, -2.25, [10, 100]), (0.1, 0.2, [11, 200])]
    mf, md = MIF.mif_pair(rows, ["k", "cents"])
    assert 'Delimiter ","' in mf and "Columns 2" in mf
    out = MIF.parse_mif_pair(mf, md, ["k", "cents"])
    assert list(out["k"]) == [10, 11] and list(out["cents"]) == [100, 200]
    assert list(out["x"]) == [1.5, 0.1] and list(out["y"]) == [-2.25, 0.2]
    with pytest.raises(ValueError, match="unsupported geometry"):
        MIF.parse_mif_pair(mf.replace("Point", "Pline"), md, ["k", "cents"])
    with pytest.raises(ValueError, match=".mid rows"):
        MIF.parse_mif_pair(mf, md + "12,300\n", ["k", "cents"])


def test_pgdump_copy_block_and_errors():
    import pytest

    from gdal_spark.sources import pgdump as PGD

    txt = PGD.pgdump_text("pts", [(2.5, -1.25, [7, 70])], ["k", "cents"])
    assert "CREATE TABLE \"public\".\"pts\"" in txt
    assert "AddGeometryColumn" in txt and txt.rstrip().endswith("\\.")
    out = PGD.parse_pgdump(txt, ["k", "cents"])
    assert list(out["k"]) == [7] and out["x"][0] == 2.5 and out["y"][0] == -1.25
    with pytest.raises(ValueError, match="no COPY block"):
        PGD.parse_pgdump("SELECT 1;", ["k"])
    bad = txt.replace("0101", "0102", 1)  # linestring type byte
    with pytest.raises(ValueError, match="unsupported WKB"):
        PGD.parse_pgdump(bad, ["k", "cents"])


def test_osm_document_roundtrip():
    import pytest

    from gdal_spark.sources import osmxml as OSM

    rows = [{"nid": 5, "lat": 48.85, "lon": 2.35, "cents": 99}]
    buf = OSM.osm_document(rows, "nid", ["cents"])
    assert b'<osm version="0.6"' in buf and b'k="cents" v="99"' in buf
    back = OSM.parse_osm(buf, "nid", ["cents"])
    assert back == [{"nid": 5, "lat": 48.85, "lon": 2.35, "cents": 99}]
    with pytest.raises(ValueError, match="root element"):
        OSM.parse_osm(b"<gpx/>", "nid", [])


def test_georss_lat_first_and_errors():
    import pytest

    from gdal_spark.sources import georss as GR

    rows = [{"k": 3, "cents": 42, "lon": 2.35, "lat": 48.85}]
    buf = GR.georss_document(rows, ["k", "cents"])
    # GeoRSS-Simple is latitude FIRST
    assert b"<georss:point>48.85 2.35</georss:point>" in buf
    back = GR.parse_georss(buf, ["k", "cents"])
    assert back == [{"lat": 48.85, "lon": 2.35, "k": 3, "cents": 42}]
    with pytest.raises(ValueError, match="root element"):
        GR.parse_georss(b"<feed/>", [])
    with pytest.raises(ValueError, match="georss:point"):
        GR.parse_georss(
            b'<rss version="2.0"><channel><item><k>1</k></item>'
            b"</channel></rss>", ["k"])
