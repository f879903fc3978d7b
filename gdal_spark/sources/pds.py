"""PDS3 raster driver — from-scratch codec of the PUBLIC NASA Planetary
Data System v3 labelled-image format (reference
``frmts/pds/pdsdataset.cpp``; layout per the public PDS3 Standards
Reference the reference implements).

Format — an ODL (``KEYWORD = VALUE``) label of FIXED_LENGTH records:

* the label occupies LABEL_RECORDS records of RECORD_BYTES bytes and
  ends with ``END``; the image pointer ``^IMAGE = <n>`` is a 1-BASED
  RECORD number (pdsdataset.cpp:787-793 enumerates the pointer forms;
  this driver implements the attached ``^IMAGE = n`` record form and
  the ``^IMAGE = n <BYTES>`` byte form);
* OBJECT = IMAGE carries LINES, LINE_SAMPLES, BANDS,
  BAND_STORAGE_TYPE = BAND_SEQUENTIAL, SAMPLE_BITS (8/16/32) and
  SAMPLE_TYPE — MSB_INTEGER / MSB_UNSIGNED_INTEGER / IEEE_REAL are
  BIG-endian, LSB_INTEGER / LSB_UNSIGNED_INTEGER / PC_REAL little
  (pdsdataset.cpp:997-1080 maps the same names);
* image records follow the pointer, band-sequential, one line per
  RECORD_BYTES (= LINE_SAMPLES * itemsize here).

The novelty vs the engine's other raw drivers: the data offset is not
a fixed header size but label-driven (records × RECORD_BYTES), so the
gate pins the pointer arithmetic, in the format's classic MSB flavor.

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``),
one (band, row-block) slab of records each.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

# (SAMPLE_TYPE, SAMPLE_BITS) -> numpy dtype (endianness explicit)
_SAMPLE_TYPES = {
    ("MSB_INTEGER", 16): ">i2", ("MSB_INTEGER", 32): ">i4",
    ("MSB_UNSIGNED_INTEGER", 8): "u1", ("MSB_UNSIGNED_INTEGER", 16): ">u2",
    ("UNSIGNED_INTEGER", 8): "u1",
    ("LSB_INTEGER", 16): "<i2", ("LSB_INTEGER", 32): "<i4",
    ("LSB_UNSIGNED_INTEGER", 8): "u1", ("LSB_UNSIGNED_INTEGER", 16): "<u2",
    ("IEEE_REAL", 32): ">f4", ("PC_REAL", 32): "<f4",
}
_OF_NP = {"u1": ("MSB_UNSIGNED_INTEGER", 8), "i2": ("MSB_INTEGER", 16),
          "i4": ("MSB_INTEGER", 32), "f4": ("IEEE_REAL", 32)}


def pds_label_bytes(w: int, h: int, bands: int, dtype: str) -> bytes:
    """ODL label padded to a whole number of RECORD_BYTES records; the
    ^IMAGE pointer names the first data record, 1-based."""
    sample_type, bits = _OF_NP[dtype]
    item = bits // 8
    record_bytes = w * item
    lines = [
        "PDS_VERSION_ID            = PDS3",
        "RECORD_TYPE               = FIXED_LENGTH",
        f"RECORD_BYTES              = {record_bytes}",
        "LABEL_RECORDS             = @LR@",
        "^IMAGE                    = @PTR@",
        "OBJECT                    = IMAGE",
        f"  LINES                   = {h}",
        f"  LINE_SAMPLES            = {w}",
        f"  BANDS                   = {bands}",
        "  BAND_STORAGE_TYPE       = BAND_SEQUENTIAL",
        f"  SAMPLE_BITS             = {bits}",
        f"  SAMPLE_TYPE             = {sample_type}",
        "END_OBJECT                = IMAGE",
        "END",
    ]
    # fixed-width @LR@/@PTR@ slots keep the label size independent of
    # the substituted digits, so one sizing pass suffices
    body = "\r\n".join(lines) + "\r\n"
    n = len(body) - len("@LR@") - len("@PTR@") + 12  # 6 digits each
    label_records = (n + record_bytes - 1) // record_bytes
    body = body.replace("@LR@", f"{label_records:<6d}").replace(
        "@PTR@", f"{label_records + 1:<6d}")
    return body.encode("ascii").ljust(label_records * record_bytes, b" ")


_KV_RE = re.compile(r"^\s*(\^?[A-Z0-9_:]+)\s*=\s*(.+?)\s*$")


def parse_pds_label(path: str) -> dict:
    """Parse the ODL label: scan KEYWORD = VALUE lines until END, then
    resolve the ^IMAGE pointer (records unless suffixed <BYTES>)."""
    kv: dict[str, str] = {}
    with open(path, "rb") as fh:
        head = fh.read(65536)
    for raw in head.decode("ascii", "replace").splitlines():
        m = _KV_RE.match(raw)
        if m:
            kv[m.group(1).upper()] = m.group(2).strip().strip('"')
        if raw.strip() == "END":
            break
    else:
        raise ValueError("pds: no END statement in the first 64 KiB")
    if kv.get("PDS_VERSION_ID", "PDS3") != "PDS3":
        raise ValueError("pds: only PDS_VERSION_ID = PDS3 supported")
    record_bytes = int(kv["RECORD_BYTES"])
    ptr = kv.get("^IMAGE")
    if ptr is None:
        raise ValueError("pds: no ^IMAGE pointer (detached files "
                         "unsupported)")
    if "<BYTES>" in ptr:
        # byte form: 1-based byte offset (pdsdataset.cpp:793)
        data0 = int(ptr.replace("<BYTES>", "").strip()) - 1
    else:
        data0 = (int(ptr) - 1) * record_bytes  # 1-based record number
    bits = int(kv.get("SAMPLE_BITS", "8"))
    st = kv.get("SAMPLE_TYPE", "MSB_UNSIGNED_INTEGER").upper()
    if (st, bits) not in _SAMPLE_TYPES:
        raise ValueError(f"pds: unsupported SAMPLE_TYPE={st!r} "
                         f"SAMPLE_BITS={bits}")
    if kv.get("BAND_STORAGE_TYPE",
              "BAND_SEQUENTIAL").upper() != "BAND_SEQUENTIAL":
        raise ValueError("pds: only BAND_SEQUENTIAL storage supported")
    return {
        "w": int(kv["LINE_SAMPLES"]), "h": int(kv["LINES"]),
        "bands": int(kv.get("BANDS", "1")),
        "dtype": _SAMPLE_TYPES[(st, bits)],
        "record_bytes": record_bytes, "data0": data0,
    }


def read_pds(spark: SparkSession, path: str,
             block_rows: int = 64) -> DataFrame:
    """Distributed band-sequential scan → (band, gy, gx, val double);
    one (band, row-block) pread per slab at the label-resolved
    offset."""
    hdr = parse_pds_label(path)
    w, h, bands = hdr["w"], hdr["h"], hdr["bands"]
    np_dt = np.dtype(hdr["dtype"])
    rec = hdr["record_bytes"]
    bl = RG.Blocks(h, block_rows, bands)

    def decode(read, slab):
        b, y0, rows = bl.span(slab)
        arr = read(hdr["data0"] + (b * h + y0) * rec, (rows, rec), "u1")
        yield b, y0, 0, arr[:, :w * np_dt.itemsize].copy().view(np_dt)

    return RG.read_slabs(spark, path, bl.count, decode, banded=True)


def write_pds(
    cells: DataFrame, path: str, w: int, h: int, bands: int,
    *, dtype: str = "i2", block_rows: int = 64, fill: float = 0.0,
) -> None:
    """Distributed band-sequential sink: ODL label + pre-extended data
    driver-side, one pwrite per (band, row-block) slab."""
    if dtype not in _OF_NP:
        raise ValueError(f"pds write: unsupported dtype {dtype!r}")
    np_dt = np.dtype(_SAMPLE_TYPES[_OF_NP[dtype]])
    rec = w * np_dt.itemsize
    data0 = RG.preallocate(path, pds_label_bytes(w, h, bands, dtype),
                           RG.fill_row(fill, np_dt, w), bands * h)
    bl = RG.Blocks(h, block_rows, bands)

    def encode(slab, pdf):
        b, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w), fill, np_dt,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy())
        return data0 + (b * h + y0) * rec, buf

    RG.write_slabs(cells, path, bl.key(banded=True), (bands, h, w), encode)
