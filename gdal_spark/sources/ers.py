"""ERS (ERMapper .ers-labelled raw) raster driver — from-scratch codec
of the PUBLIC ERMapper dataset-header format (reference
``frmts/ers/ersdataset.cpp``).

Format — the engine's only NESTED-BLOCK ASCII header:

    DatasetHeader Begin
        Version         = "6.0"
        ByteOrder       = LSBFirst | MSBFirst
        HeaderOffset    = <bytes to skip in the data file>
        RasterInfo Begin
            CellType          = Unsigned8BitInteger | Signed16BitInteger
                                | Unsigned16BitInteger | Signed32BitInteger
                                | IEEE4ByteReal
            NrOfLines         = <h>
            NrOfCellsPerLine  = <w>
            NrOfBands         = <b>
        RasterInfo End
    DatasetHeader End

next to a raw data file named by stripping the ``.ers`` extension
(ersdataset.cpp:990-993; an explicit ``DataFile`` key overrides).  The
payload is BIL — within each line, band i's run starts at
``i * wordsize * width`` (the band/line/pixel offsets
ersdataset.cpp:1062-1064 passes to the raw band) — in the header's
declared byte order, so unlike the EHdr BIL driver this one carries the
MSBFirst big-endian BIL path.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``):
a read slab is one (band, row-block), picked out of the interleaved
block by a strided view; a write slab is a row-block of all bands.
"""

from __future__ import annotations

import os
import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

_CELLTYPES = {
    ("Unsigned8BitInteger", "L"): "u1", ("Unsigned8BitInteger", "M"): "u1",
    ("Signed16BitInteger", "L"): "<i2", ("Signed16BitInteger", "M"): ">i2",
    ("Unsigned16BitInteger", "L"): "<u2", ("Unsigned16BitInteger", "M"): ">u2",
    ("Signed32BitInteger", "L"): "<i4", ("Signed32BitInteger", "M"): ">i4",
    ("IEEE4ByteReal", "L"): "<f4", ("IEEE4ByteReal", "M"): ">f4",
}
_OF_NP = {"u1": "Unsigned8BitInteger", "i2": "Signed16BitInteger",
          "u2": "Unsigned16BitInteger", "i4": "Signed32BitInteger",
          "f4": "IEEE4ByteReal"}


def ers_header_bytes(w: int, h: int, bands: int, celltype: str,
                     byteorder: str, header_offset: int) -> bytes:
    return (
        "DatasetHeader Begin\n"
        '\tVersion\t\t= "6.0"\n'
        f"\tByteOrder\t= {byteorder}\n"
        f"\tHeaderOffset\t= {header_offset}\n"
        '\tDataSetType\t= ERStorage\n'
        '\tDataType\t= Raster\n'
        "\tRasterInfo Begin\n"
        f"\t\tCellType\t= {celltype}\n"
        f"\t\tNrOfLines\t= {h}\n"
        f"\t\tNrOfCellsPerLine\t= {w}\n"
        f"\t\tNrOfBands\t= {bands}\n"
        "\tRasterInfo End\n"
        "DatasetHeader End\n"
    ).encode("ascii")


_KV_RE = re.compile(r"^\s*([A-Za-z]+)\s*=\s*\"?([^\"\n]*?)\"?\s*$")


def parse_ers_header(path: str) -> dict:
    """Nested Begin/End blocks flattened to dotted keys — the same
    RasterInfo.NrOfLines addressing the reference uses
    (ersdataset.cpp:895-922)."""
    kv: dict[str, str] = {}
    stack: list[str] = []
    with open(path) as fh:
        for line in fh:
            s = line.strip()
            if s.endswith(" Begin"):
                stack.append(s[: -len(" Begin")].strip())
                continue
            if s.endswith(" End"):
                if stack:
                    stack.pop()
                continue
            m = _KV_RE.match(s)
            if m:
                prefix = ".".join(stack[1:])  # DatasetHeader is implicit
                key = (prefix + "." if prefix else "") + m.group(1)
                kv[key] = m.group(2)
    for need in ("RasterInfo.NrOfLines", "RasterInfo.NrOfCellsPerLine",
                 "RasterInfo.NrOfBands"):
        if need not in kv:
            raise ValueError(f"ers: missing {need}")
    bo = kv.get("ByteOrder", "LSBFirst")
    if bo not in ("LSBFirst", "MSBFirst"):
        raise ValueError(f"ers: bad ByteOrder {bo!r}")
    ct = kv.get("RasterInfo.CellType", "Unsigned8BitInteger")
    key = (ct, bo[0])
    if key not in _CELLTYPES:
        raise ValueError(f"ers: unsupported CellType {ct!r}")
    data_file = kv.get("DataFile")
    if data_file:
        raw = os.path.join(os.path.dirname(path), data_file)
    else:
        raw = path[: path.rfind(".")] if "." in os.path.basename(path) \
            else path
    return {
        "w": int(kv["RasterInfo.NrOfCellsPerLine"]),
        "h": int(kv["RasterInfo.NrOfLines"]),
        "bands": int(kv["RasterInfo.NrOfBands"]),
        "dtype": _CELLTYPES[key],
        "skip": int(kv.get("HeaderOffset", "0")),
        "raw": raw,
    }


def read_ers(spark: SparkSession, ers_path: str,
             block_rows: int = 64) -> DataFrame:
    """Distributed BIL scan → (band, gy, gx, val double); one (band,
    row-block) slab preads the interleaved block, strided view per band."""
    hdr = parse_ers_header(ers_path)
    w, h, bands = hdr["w"], hdr["h"], hdr["bands"]
    np_dt = np.dtype(hdr["dtype"])
    bl = RG.Blocks(h, block_rows, bands)

    def decode(read, slab):
        b, y0, rows = bl.span(slab)
        arr = read(hdr["skip"] + y0 * bands * w * np_dt.itemsize,
                   (rows, bands, w), np_dt)
        yield b, y0, 0, arr[:, b, :]

    return RG.read_slabs(spark, hdr["raw"], bl.count, decode, banded=True)


def write_ers(
    cells: DataFrame, ers_path: str, w: int, h: int, bands: int,
    *, dtype: str = "i2", byteorder: str = "MSBFirst",
    header_offset: int = 0, block_rows: int = 64, fill: float = 0.0,
) -> None:
    """Distributed BIL sink: .ers header + pre-extended raw driver-side,
    one pwrite per ROW-BLOCK (all bands — the BIL unit)."""
    if dtype not in _OF_NP:
        raise ValueError(f"ers write: unsupported dtype {dtype!r}")
    celltype = _OF_NP[dtype]
    np_dt = np.dtype(_CELLTYPES[(celltype, byteorder[0])])
    raw = ers_path[: ers_path.rfind(".")]
    os.makedirs(os.path.dirname(ers_path) or ".", exist_ok=True)
    with open(ers_path, "wb") as fh:
        fh.write(ers_header_bytes(w, h, bands, celltype, byteorder,
                                  header_offset))
    RG.preallocate(raw, bytes(header_offset),
                   RG.fill_row(fill, np_dt, w), h * bands)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, bands, w), fill, np_dt,
                         pdf["gy"].to_numpy() - y0, pdf["band"].to_numpy(),
                         pdf["gx"].to_numpy())
        return header_offset + y0 * bands * w * np_dt.itemsize, buf

    RG.write_slabs(cells, raw, bl.key(), (bands, h, w), encode)
