"""PCI .aux-labelled raw raster driver (PAux) — from-scratch codec of
the PUBLIC PCI Geomatics auxiliary-header raw format (reference
``frmts/raw/pauxdataset.cpp``).

Format: a keyword-per-line text ``.aux`` sidecar next to an unlabelled
raw file —

    AuxilaryTarget: <raw file name>        (sic — the PCI spelling)
    RawDefinition: <width> <height> <nbands>
    ChanDefinition-<n>: <type> <offset> <pixeloffset> <lineoffset>
                        [Swapped|Unswapped]

with type one of ``8U``/``16S``/``16U``/``32R``
(pauxdataset.cpp:649-659; anything else reads as 8U), byte offsets in
BYTES, and the optional 5th token naming the byte order (``Swapped``
means byte-swapped relative to big-endian — i.e. little-endian;
pauxdataset.cpp:663-668).  The per-channel (offset, pixeloffset,
lineoffset) triple makes the format interleave-agnostic: this driver
WRITES band-sequential (BSQ) triples but READS whatever the triples
describe.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``):
each (band, row-block) slab reads its rows through the channel's
declared strides."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

_DTYPES = {"8U": "u1", "16S": "<i2", "16U": "<u2", "32R": "<f4"}
_OF_NP = {"u1": "8U", "i2": "16S", "u2": "16U", "f4": "32R"}


def parse_aux(aux_path: str) -> dict:
    kv: dict[str, str] = {}
    with open(aux_path) as fh:
        for line in fh:
            if ":" in line:
                k, v = line.split(":", 1)
                kv[k.strip()] = v.strip()
    if "AuxilaryTarget" not in kv:
        raise ValueError("paux: missing AuxilaryTarget keyword")
    if "RawDefinition" not in kv:
        raise ValueError("paux: missing RawDefinition")
    w, h, nbands = (int(t) for t in kv["RawDefinition"].split()[:3])
    chans = []
    for i in range(1, nbands + 1):
        toks = kv[f"ChanDefinition-{i}"].split()
        if toks[0] not in _DTYPES:
            raise ValueError(f"paux: unsupported channel type {toks[0]!r}")
        dt = _DTYPES[toks[0]]
        if len(toks) > 4 and toks[4] == "Unswapped":
            dt = dt.replace("<", ">")
        chans.append({
            "dtype": dt, "offset": int(toks[1]),
            "pixel_off": int(toks[2]), "line_off": int(toks[3]),
        })
    raw = os.path.join(os.path.dirname(aux_path) or ".",
                       kv["AuxilaryTarget"])
    return {"w": w, "h": h, "bands": nbands, "chans": chans, "raw": raw}


def read_paux(spark: SparkSession, aux_path: str,
              block_rows: int = 64) -> DataFrame:
    """Distributed scan → (band, gy, gx, val double): one (band,
    row-block) slab, one pread per row bounded by the channel's
    declared line stride and strided by its pixel offset."""
    hdr = parse_aux(aux_path)
    w, h, bands = hdr["w"], hdr["h"], hdr["bands"]
    bl = RG.Blocks(h, block_rows, bands)

    def decode(read, slab):
        b, y0, rows = bl.span(slab)
        ch = hdr["chans"][b]
        np_dt = np.dtype(ch["dtype"])
        item, step = np_dt.itemsize, ch["pixel_off"]
        out = np.empty((rows, w), dtype=np.float64)
        for r in range(rows):
            a = read(ch["offset"] + (y0 + r) * ch["line_off"],
                     ((w - 1) * step + item,), "u1")
            vals = np.lib.stride_tricks.as_strided(
                a, shape=(w, item), strides=(step, 1)).copy()
            out[r] = vals.view(np_dt).ravel()
        yield b, y0, 0, out

    return RG.read_slabs(spark, hdr["raw"], bl.count, decode, banded=True)


def write_paux(
    cells: DataFrame, aux_path: str, w: int, h: int, bands: int,
    *, dtype: str = "i2", block_rows: int = 64, fill: float = 0.0,
) -> None:
    """Distributed BSQ sink over (band, gy, gx, val): .aux sidecar +
    pre-extended raw driver-side, one pwrite per (band, row-block)
    slab."""
    if dtype not in _OF_NP:
        raise ValueError(f"paux write: unsupported dtype {dtype!r}")
    np_dt = np.dtype("<" + dtype if dtype != "u1" else dtype)
    item = np_dt.itemsize
    base = aux_path[:-4] if aux_path.endswith(".aux") else aux_path
    raw = base + ".raw"
    os.makedirs(os.path.dirname(aux_path) or ".", exist_ok=True)
    with open(aux_path, "w") as fh:
        fh.write(f"AuxilaryTarget: {os.path.basename(raw)}\n")
        fh.write(f"RawDefinition: {w} {h} {bands}\n")
        for b in range(bands):
            off = b * h * w * item
            fh.write(f"ChanDefinition-{b + 1}: {_OF_NP[dtype]} {off} "
                     f"{item} {w * item} Swapped\n")
    RG.preallocate(raw, b"", RG.fill_row(fill, np_dt, w), bands * h)
    bl = RG.Blocks(h, block_rows, bands)

    def encode(slab, pdf):
        b, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w), fill, np_dt,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy())
        return (b * h + y0) * w * item, buf

    RG.write_slabs(cells, raw, bl.key(banded=True), (bands, h, w), encode)
