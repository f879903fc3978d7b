"""ILWIS raster driver — from-scratch codec of the PUBLIC ILWIS 3
"object definition file" raster format (reference
``frmts/ilwis/ilwisdataset.cpp``).

Format: an INI-style ``.mpr`` ODF —

    [Ilwis]     Type=BaseMap
    [BaseMap]   Type=Map
    [Map]       Type=MapStore  GeoRef=none.grf  Size=<rows> <cols>
    [MapStore]  Data=<name.mp#>  Structure=Line
                Type=Byte|Int|Long|Float|Real

— next to the raw ``.mp#`` store: row-major TOP-down little-endian
samples of the declared store type (ilwisdataset.cpp:979-1000 writes
exactly these keys; GetStoreType:425-455 maps the five type names to
u8/i2/i4/f4/f8).

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``)
over the .mp# store; the .mpr ODF is driver-side metadata only."""

from __future__ import annotations

import configparser
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

_STORE_DT = {"byte": "u1", "int": "<i2", "long": "<i4",
             "float": "<f4", "real": "<f8"}
_OF_NP = {"u1": "Byte", "i2": "Int", "i4": "Long",
          "f4": "Float", "f8": "Real"}


def parse_mpr(path: str) -> dict:
    cp = configparser.ConfigParser()
    cp.optionxform = str  # ILWIS keys are case-sensitive-ish; keep as-is
    with open(path) as fh:
        cp.read_string(fh.read())
    if cp.get("Ilwis", "Type", fallback="") != "BaseMap":
        raise ValueError("ilwis: not a BaseMap ODF")
    size = cp.get("Map", "Size", fallback="")
    try:
        h, w = (int(t) for t in size.split()[:2])
    except ValueError as exc:
        raise ValueError(f"ilwis: bad Map Size {size!r}") from exc
    st = cp.get("MapStore", "Type", fallback="").lower()
    if st not in _STORE_DT:
        raise ValueError(f"ilwis: unsupported store type {st!r}")
    data = cp.get("MapStore", "Data")
    return {"w": w, "h": h, "dtype": _STORE_DT[st],
            "store": os.path.join(os.path.dirname(path) or ".", data)}


def read_ilwis(spark: SparkSession, mpr_path: str,
               block_rows: int = 64) -> DataFrame:
    """Distributed scan → (gy, gx, val double): one row-block slab per
    pread of the .mp# store."""
    hdr = parse_mpr(mpr_path)
    w, h = hdr["w"], hdr["h"]
    np_dt = np.dtype(hdr["dtype"])
    bl = RG.Blocks(h, block_rows)

    def decode(read, slab):
        _, y0, rows = bl.span(slab)
        yield 0, y0, 0, read(y0 * w * np_dt.itemsize, (rows, w), np_dt)

    return RG.read_slabs(spark, hdr["store"], bl.count, decode)


def write_ilwis(
    cells: DataFrame, mpr_path: str, w: int, h: int,
    *, dtype: str = "f4", block_rows: int = 64, fill: float = 0.0,
) -> None:
    """Distributed sink over (gy, gx, val): .mpr ODF + pre-extended
    .mp# store driver-side, one row-block pwrite per slab."""
    if dtype not in _OF_NP:
        raise ValueError(f"ilwis write: unsupported dtype {dtype!r}")
    np_dt = np.dtype(("<" + dtype) if dtype != "u1" else dtype)
    base = mpr_path[:-4] if mpr_path.endswith(".mpr") else mpr_path
    store = base + ".mp#"
    os.makedirs(os.path.dirname(mpr_path) or ".", exist_ok=True)
    with open(mpr_path, "w") as fh:
        fh.write(
            "[Ilwis]\nType=BaseMap\n"
            "[BaseMap]\nType=Map\nDomain=value.dom\n"
            "[Map]\nType=MapStore\nGeoRef=none.grf\n"
            f"Size={h} {w}\n"
            "[MapStore]\n"
            f"Data={os.path.basename(store)}\n"
            "Structure=Line\n"
            f"Type={_OF_NP[dtype]}\n")
    RG.preallocate(store, b"", RG.fill_row(fill, np_dt, w), h)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w), fill, np_dt,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy())
        return y0 * w * np_dt.itemsize, buf

    RG.write_slabs(cells, store, bl.key(), (h, w), encode)
