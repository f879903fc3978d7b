"""VICAR raster driver — from-scratch codec of the PUBLIC NASA/JPL
VICAR file format (reference ``frmts/pds/vicardataset.cpp``; layout per
the public VICAR File Format spec the reference implements).

Format — the engine's only SELF-SIZING ASCII label:

* the file STARTS with ``LBLSIZE=<n>`` — the label's own byte length,
  which a reader must parse before it can parse anything else; the
  label is ``KEY=VALUE`` pairs separated by spaces (string values in
  single quotes), padded with NULs/spaces to exactly ``n`` bytes, and
  the reference rounds ``n`` up to a multiple of RECSIZE
  (vicardataset.cpp:1558 "round it to the next multiple of RECSIZE");
* geometry keys: NL (lines), NS (samples), NB (bands), ORG='BSQ',
  FORMAT='BYTE'|'HALF'|'FULL'|'REAL', INTFMT='LOW' (little-endian),
  REALFMT='RIEEE' (IEEE little-endian), RECSIZE = NBB + NS*itemsize;
* data records follow the label: first NLB binary-header records
  (skipped), then per band per line one record of NBB binary-prefix
  bytes + NS samples (vicardataset.cpp:953 applies the NBB offset on
  every line read) — this driver is the engine's only format with a
  per-RECORD binary prefix, so the gate pins the strided-skip path.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``):
one (band, row-block) slab per contiguous record range, the NBB
prefixes dropped by a strided view on read and left zero on write.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

_FORMATS = {"BYTE": "u1", "HALF": "<i2", "FULL": "<i4", "REAL": "<f4"}
_OF_NP = {"u1": "BYTE", "i2": "HALF", "i4": "FULL", "f4": "REAL"}


def vicar_label_bytes(w: int, h: int, bands: int, fmt: str,
                      nbb: int, nlb: int) -> bytes:
    """Self-sizing label: LBLSIZE names the padded label length, itself
    rounded up to a RECSIZE multiple (the reference's write rule)."""
    item = np.dtype(_FORMATS[fmt]).itemsize
    recsize = nbb + w * item
    body = (
        f"  FORMAT='{fmt}'  TYPE='IMAGE'  BUFSIZ={recsize}  DIM=3"
        f"  EOL=0  RECSIZE={recsize}  ORG='BSQ'  NL={h}  NS={w}  NB={bands}"
        f"  N1={w}  N2={h}  N3={bands}  N4=0  NBB={nbb}  NLB={nlb}"
        "  HOST='X86-64-LINX'  INTFMT='LOW'  REALFMT='RIEEE'"
        "  BHOST='X86-64-LINX'  BINTFMT='LOW'  BREALFMT='RIEEE'"
        "  BLTYPE=''"
    )
    # LBLSIZE= plus up to 10 digits, then round the whole label up to a
    # RECSIZE multiple (vicardataset.cpp:1558-1564)
    n = len("LBLSIZE=") + 10 + len(body)
    n = ((n + recsize - 1) // recsize) * recsize
    head = f"LBLSIZE={n}".ljust(len("LBLSIZE=") + 10)
    return (head + body).encode("ascii").ljust(n, b"\x00")


def parse_vicar_label(path: str) -> dict:
    """Two-phase parse: read enough bytes to find LBLSIZE, then tokenize
    exactly that many bytes of KEY=VALUE pairs."""
    with open(path, "rb") as fh:
        probe = fh.read(64)
        if not probe.startswith(b"LBLSIZE="):
            raise ValueError("vicar: file does not start with LBLSIZE=")
        lblsize = int(probe[8:].split()[0])
        fh.seek(0)
        label = fh.read(lblsize).rstrip(b"\x00").decode("ascii", "replace")
    kv: dict[str, str] = {}
    for tok in label.split():
        if "=" in tok:
            k, _, v = tok.partition("=")
            kv[k.upper()] = v.strip("'")
    fmt = kv.get("FORMAT", "BYTE").upper()
    if fmt not in _FORMATS:
        raise ValueError(f"vicar: unsupported FORMAT={fmt!r}")
    if kv.get("INTFMT", "LOW").upper() != "LOW":
        raise ValueError("vicar: only INTFMT='LOW' supported")
    if kv.get("REALFMT", "RIEEE").upper() != "RIEEE":
        raise ValueError("vicar: only REALFMT='RIEEE' supported")
    if kv.get("ORG", "BSQ").upper() != "BSQ":
        raise ValueError("vicar: only ORG='BSQ' supported")
    w = int(kv["NS"])
    item = np.dtype(_FORMATS[fmt]).itemsize
    nbb = int(kv.get("NBB", "0"))
    return {
        "lblsize": lblsize, "w": w, "h": int(kv["NL"]),
        "bands": int(kv.get("NB", "1")), "dtype": _FORMATS[fmt],
        "nbb": nbb, "nlb": int(kv.get("NLB", "0")),
        "recsize": int(kv.get("RECSIZE", str(nbb + w * item))),
    }


def read_vicar(spark: SparkSession, path: str,
               block_rows: int = 64) -> DataFrame:
    """Distributed BSQ scan → (band, gy, gx, val double): one (band,
    row-block) slab per pread; each record's NBB binary prefix is
    dropped by a strided view, NLB binary-header records are skipped up
    front."""
    hdr = parse_vicar_label(path)
    w, h, bands = hdr["w"], hdr["h"], hdr["bands"]
    np_dt = np.dtype(hdr["dtype"])
    recsize, nbb = hdr["recsize"], hdr["nbb"]
    data0 = hdr["lblsize"] + hdr["nlb"] * recsize
    bl = RG.Blocks(h, block_rows, bands)

    def decode(read, slab):
        b, y0, rows = bl.span(slab)
        # one record = nbb prefix bytes + w samples
        arr = read(data0 + (b * h + y0) * recsize, (rows, recsize), "u1")
        yield b, y0, 0, arr[:, nbb:].copy().view(np_dt)

    return RG.read_slabs(spark, path, bl.count, decode, banded=True)


def write_vicar(
    cells: DataFrame, path: str, w: int, h: int, bands: int,
    *, dtype: str = "i2", nbb: int = 0, block_rows: int = 64,
    fill: float = 0.0,
) -> None:
    """Distributed BSQ sink over (band, gy, gx, val): label + pre-extended
    data driver-side, one pwrite of records per (band, row-block) slab
    (NBB prefix bytes left as zeros)."""
    if dtype not in _OF_NP:
        raise ValueError(f"vicar write: unsupported dtype {dtype!r}")
    fmt = _OF_NP[dtype]
    np_dt = np.dtype(_FORMATS[fmt])
    recsize = nbb + w * np_dt.itemsize
    data0 = RG.preallocate(path, vicar_label_bytes(w, h, bands, fmt, nbb, 0),
                           bytes(nbb) + RG.fill_row(fill, np_dt, w),
                           bands * h)
    bl = RG.Blocks(h, block_rows, bands)

    def encode(slab, pdf):
        b, y0, rows = bl.span(slab)
        buf = np.zeros((rows, recsize), dtype="u1")
        buf[:, nbb:] = RG.scatter(
            pdf, (rows, w), fill, np_dt, pdf["gy"].to_numpy() - y0,
            pdf["gx"].to_numpy()).view("u1")
        return data0 + (b * h + y0) * recsize, buf

    RG.write_slabs(cells, path, bl.key(banded=True), (bands, h, w), encode)
