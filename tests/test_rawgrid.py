"""The grid writers on the raw-raster slab kernel
(gdal_spark/sources/_rawgrid.py), on the document kernel
(gdal_spark/sources/_docio.py) and hf2 reject a cell outside the grid
instead of letting numpy wrap a negative index or fail the task with a
bare IndexError."""

import importlib

import numpy as np
import pytest
from pyspark.sql import functions as F

# (module, writer, file name, positional args after (w, h)) of every
# writer on the slab kernel
SLAB_WRITERS = [
    ("bt", "write_bt", "t.bt", ()),
    ("ehdr", "write_ehdr", "t.hdr", (1,)),
    ("envi", "write_envi", "t.hdr", (1,)),
    ("ers", "write_ers", "t.ers", (1,)),
    ("fits", "write_fits", "t.fits", ()),
    ("idrisi", "write_idrisi", "t.rdc", ()),
    ("ilwis", "write_ilwis", "t.mpr", ()),
    ("jdem", "write_jdem", "t.mem", ()),
    ("kro", "write_kro", "t.kro", (1,)),
    ("lcp", "write_lcp", "t.lcp", ()),
    ("leveller", "write_leveller", "t.ter", ()),
    ("ngsgeoid", "write_ngsgeoid", "t.bin", ()),
    ("nwtgrd", "write_nwtgrd", "t.grd", ()),
    ("paux", "write_paux", "t.aux", (1,)),
    ("pds", "write_pds", "t.img", (1,)),
    ("rraster", "write_rraster", "t.grd", (1,)),
    ("saga", "write_saga", "t.sgrd", ()),
    ("vicar", "write_vicar", "t.vic", (1,)),
    ("surfer", "write_gsbg", "t.grd", ()),
    ("surfer", "write_gs7bg", "t.grd", ()),
    ("surfer", "write_gsag", "t.grd", ()),
    ("gxf", "write_gxf", "t.gxf", ()),
]

# (module, writer, file or directory name, positional args after the
# path, column that holds gx) of every grid writer: the slab writers on a
# 4x4 grid, the block and tile writers on the document kernel, and hf2
GRID_WRITERS = [(m, w, name, (4, 4, *extra), "gx")
                for m, w, name, extra in SLAB_WRITERS] + [
    ("aaigrid", "write_cell_aaigrids", "asc", (4, 4, 2), "gx"),
    ("bmp", "write_rgb_bmps", "bmp", (4, 4, 2), "gx"),
    ("gif", "write_indexed_gifs", "gif", (4, 4, 2, np.zeros((8, 3))), "gx"),
    ("png_raster", "write_cell_pngs", "png", (4, 4, 2), "gx"),
    ("pnm", "write_gray_pnms", "pgm", (4, 4, 2), "gx"),
    ("zmap", "write_zmap", "t.zmap", (4, 4), "gx"),
    ("srtmhgt", "write_hgt_tiles", "hgt", (4,), "col"),
    ("dted", "write_dted_cells", "dt1", (4, 4), "col"),
    ("usgsdem", "write_dem_cells", "dem", (4, 4), "col"),
    ("hf2", "write_hf2", "t.hf2", (4, 4), "gx"),
]


def _write(spark, tmp_path, mod, writer, name, args, rows):
    """``rows`` of (band, gy, gx, val); the tile writers' (row, col,
    elev) and the image writers' (r, g, b, idx) are copies of them."""
    cells = spark.createDataFrame(
        rows, "band long, gy long, gx long, val double").select(
        "*", F.col("gy").alias("row"), F.col("gx").alias("col"),
        *[F.col("val").cast("long").alias(c)
          for c in ("elev", "r", "g", "b", "idx")],
        F.lit(0).cast("long").alias("lat_sw"),
        F.lit(0).cast("long").alias("lon_sw"))
    m = importlib.import_module(f"gdal_spark.sources.{mod}")
    getattr(m, writer)(cells, str(tmp_path / name), *args)


@pytest.mark.parametrize(
    "mod, writer, name, args, x", GRID_WRITERS,
    ids=[w for _, w, _, _, _ in GRID_WRITERS])
def test_negative_gx_raises_not_wraps(spark, tmp_path, mod, writer, name,
                                      args, x):
    with pytest.raises(ValueError, match=rf"{x} must lie in \[0, 4\)"):
        _write(spark, tmp_path, mod, writer, name, args,
               [(0, 0, 1, 7.0), (0, 1, -1, 7.0)])


@pytest.mark.parametrize("cell, match", [
    ((0, 0, 4, 7.0), r"gx must lie in \[0, 4\), got 4"),
    ((0, 4, 0, 7.0), r"gy must lie in \[0, 4\), got 4"),
    ((1, 0, 0, 7.0), r"band must lie in \[0, 1\), got 1"),
], ids=["gx", "gy", "band"])
def test_out_of_range_error_names_column_and_range(spark, tmp_path, cell,
                                                   match):
    with pytest.raises(ValueError, match=match):
        _write(spark, tmp_path, "envi", "write_envi", "t.hdr", (4, 4, 1),
               [cell])
