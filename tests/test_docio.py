"""The document kernel (gdal_spark/sources/_docio.py): every writer on
it writes no file for a frame with no rows, and every reader on it reads
an existing directory with no file back as an empty frame of its
schema."""

import importlib

import numpy as np
import pytest

LAYER = ["k"]
POINTS = "x double, y double, k long"
TILES = "lat_sw long, lon_sw long, row long, col long, elev long"
TILE_OUT = ["lat_sw", "lon_sw", "row", "col", "elev", "lon", "lat"]

# module: (input schema, writer, writer args after (frame, path),
#          reader, reader args after (spark, path), reader columns)
PAIRS = {
    "aaigrid": ("gx long, gy long, val double", "write_cell_aaigrids",
                (4, 4, 2), "read_aaigrids", (), ["gx", "gy", "val"]),
    "arrow_ipc": ("k long, x double", "write_arrow_files", (2, "k"),
                  "read_arrow_files", ("k long, x double",), ["k", "x"]),
    "avce00": ("arc_id long, seq long, x double, y double, fnode long, "
               "tnode long, lpoly long, rpoly long", "write_arc_e00s", (2,),
               "read_arc_e00s", (),
               ["arc_id", "fnode", "tnode", "lpoly", "rpoly", "seq", "x",
                "y"]),
    "bmp": ("gx long, gy long, r long, g long, b long", "write_rgb_bmps",
            (4, 4, 2), "read_rgb_bmps", (2,), ["gx", "gy", "r", "g", "b"]),
    "dted": (TILES, "write_dted_cells", (5, 5), "read_dted", (), TILE_OUT),
    "dxf-points": ("k string, lon double, lat double", "write_point_dxfs",
                   ("k",), "read_point_dxfs", (), ["layer", "lon", "lat"]),
    "dxf-polylines": ("k string, xs array<double>, ys array<double>",
                      "write_polyline_dxfs", ("k",), "read_polyline_dxfs",
                      (), ["layer", "xs", "ys", "closed"]),
    "georss": ("k long, lon double, lat double", "write_point_georss",
               (LAYER,), "read_point_georss", (LAYER,), ["k", "lon", "lat"]),
    "gif": ("gx long, gy long, idx long", "write_indexed_gifs",
            (4, 4, 2, np.zeros((2, 3))), "read_indexed_gifs", (2,),
            ["gx", "gy", "idx", "r", "g", "b"]),
    "gml": (POINTS, "write_point_gmls", ("x", "y", LAYER, 2),
            "read_point_gmls", (LAYER,), ["k", "x", "y"]),
    "gmt": (POINTS, "write_point_gmts", ("x", "y", LAYER, 2),
            "read_point_gmts", (LAYER,), ["k", "x", "y"]),
    "gpx": (POINTS, "write_point_gpx", ("x", "y", LAYER, 2),
            "read_point_gpx", (LAYER,), ["k", "x", "y"]),
    "jml": (POINTS, "write_point_jmls", ("x", "y", LAYER, 2),
            "read_point_jmls", (LAYER,), ["k", "x", "y"]),
    "kml": (POINTS, "write_point_kmls", ("x", "y", LAYER, 2),
            "read_point_kmls", (LAYER,), ["k", "x", "y"]),
    "mif": ("k long, lon double, lat double", "write_point_mifs", (LAYER,),
            "read_point_mifs", (LAYER,), ["k", "x", "y"]),
    "ods": (POINTS, "write_point_odss", ("x", "y", LAYER, 2),
            "read_point_odss", (LAYER,), ["k", "x", "y"]),
    "osmxml": ("k long, t long, lon double, lat double", "write_point_osm",
               ("k", ["t"]), "read_point_osm", ("k", ["t"]),
               ["k", "t", "lon", "lat"]),
    "pgdump": ("k long, lon double, lat double", "write_point_pgdumps",
               ("pts", LAYER), "read_point_pgdumps", (LAYER,),
               ["k", "x", "y"]),
    "png_raster": ("gx long, gy long, val long", "write_cell_pngs",
                   (4, 4, 2), "read_pngs", (), ["gx", "gy", "val"]),
    "pnm": ("gx long, gy long, val long", "write_gray_pnms", (4, 4, 2),
            "read_gray_pnms", (2,), ["gx", "gy", "val"]),
    "srtmhgt": (TILES, "write_hgt_tiles", (5,), "read_hgt", (), TILE_OUT),
    "topojson": ("blk long, fid long, props_json string, qx array<long>, "
                 "qy array<long>", "write_polygon_topologies",
                 ("layer", (1.0, 1.0), (0.0, 0.0)), "read_polygon_topologies",
                 ("layer",), ["fid", "props_json", "ring"]),
    "usgsdem": (TILES, "write_dem_cells", (5, 5), "read_dem", (), TILE_OUT),
    "warc": ("doc_id long, html binary", "write_warc_shards", (2,),
             "read_warc_shards", (), ["doc_id", "uri", "html"]),
    "wasp": ("fid long, seq long, z double, x double, y double",
             "write_elevation_maps", (2,), "read_elevation_maps", (),
             ["z", "seq", "x", "y"]),
    "xlsx": (POINTS, "write_point_xlsxs", ("x", "y", LAYER, 2),
             "read_point_xlsxs", (LAYER,), ["k", "x", "y"]),
    "zmap": ("gy long, gx long, val double", "write_zmap", (4, 4),
             "read_zmap", (), ["gy", "gx", "val"]),
}


def _module(name):
    return importlib.import_module(
        f"gdal_spark.sources.{name.split('-')[0]}")


@pytest.mark.parametrize("name", sorted(PAIRS))
def test_empty_input_writes_nothing_reads_empty(spark, tmp_path, name):
    schema, writer, wargs, reader, rargs, columns = PAIRS[name]
    m = _module(name)
    # zmap writes one file at its path; the others write a directory
    path = str(tmp_path / ("g.zmap" if name == "zmap" else "out"))
    n = getattr(m, writer)(spark.createDataFrame([], schema), path, *wargs)
    assert n in (0, None)
    assert list(tmp_path.rglob("*")) in ([], [tmp_path / "out"])
    back = getattr(m, reader)(spark, path, *rargs)
    assert back.columns == columns
    assert back.count() == 0


def test_missing_directory_still_raises(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from gdal_spark.sources import kml

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        kml.read_point_kmls(spark, str(tmp_path / "absent"), LAYER)


# the block-image drivers that name files ``block-NNNNN.<ext>``:
# (input schema, writer, extra writer args after the grid, reader)
BLOCK_PAIRS = {
    "pnm": ("gx long, gy long, val long", "write_gray_pnms", (),
            "read_gray_pnms"),
    "bmp": ("gx long, gy long, r long, g long, b long", "write_rgb_bmps", (),
            "read_rgb_bmps"),
    "gif": ("gx long, gy long, idx long", "write_indexed_gifs",
            (np.zeros((2, 3)),), "read_indexed_gifs"),
}


@pytest.mark.parametrize("name", sorted(BLOCK_PAIRS))
def test_block_number_past_five_digits_roundtrips(spark, tmp_path, name):
    """Block 100000 is written as ``block-100000.<ext>`` and must read back
    at its own rows, not at block 10000's."""
    schema, writer, extra, reader = BLOCK_PAIRS[name]
    m = _module(name)
    ncols = len(schema.split(","))
    cells = spark.createDataFrame([(0, 100000) + (1,) * (ncols - 2)], schema)
    path = str(tmp_path / "out")
    # a 1 x 100001 grid in one-row blocks
    assert getattr(m, writer)(cells, path, 1, 100001, 1, *extra) == 1
    back = getattr(m, reader)(spark, path, 1).collect()
    assert [(r["gx"], r["gy"]) for r in back] == [(0, 100000)]
