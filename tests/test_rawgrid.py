"""The raw-raster slab kernel (gdal_spark/sources/_rawgrid.py): every
driver writer on it rejects a cell outside the grid instead of letting
numpy wrap a negative index or fail the task with a bare IndexError."""

import importlib

import pytest

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
]


def _write(spark, tmp_path, mod, writer, name, extra, rows):
    cells = spark.createDataFrame(
        rows, "band long, gy long, gx long, val double")
    m = importlib.import_module(f"gdal_spark.sources.{mod}")
    getattr(m, writer)(cells, str(tmp_path / name), 4, 4, *extra)


@pytest.mark.parametrize(
    "mod, writer, name, extra", SLAB_WRITERS,
    ids=[w for _, w, _, _ in SLAB_WRITERS])
def test_negative_gx_raises_not_wraps(spark, tmp_path, mod, writer, name,
                                      extra):
    with pytest.raises(ValueError, match=r"gx must lie in \[0, 4\)"):
        _write(spark, tmp_path, mod, writer, name, extra,
               [(0, 0, 1, 7.0), (0, 1, -1, 7.0)])


@pytest.mark.parametrize("cell, match", [
    ((0, 0, 4, 7.0), r"gx must lie in \[0, 4\), got 4"),
    ((0, 4, 0, 7.0), r"gy must lie in \[0, 4\), got 4"),
    ((1, 0, 0, 7.0), r"band must lie in \[0, 1\), got 1"),
], ids=["gx", "gy", "band"])
def test_out_of_range_error_names_column_and_range(spark, tmp_path, cell,
                                                   match):
    with pytest.raises(ValueError, match=match):
        _write(spark, tmp_path, "envi", "write_envi", "t.hdr", (1,),
               [cell])
