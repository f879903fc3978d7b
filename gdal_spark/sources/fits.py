"""FITS raster driver — from-scratch codec of the PUBLIC NASA FITS
standard (Flexible Image Transport System, FITS 4.0; reference
``frmts/fits/fitsdataset.cpp`` via CFITSIO).

Layout (the Standard's primary HDU):

* Header: a sequence of 80-character ASCII "card images" packed into
  2880-byte blocks —

      SIMPLE  =                    T
      BITPIX  =                   16        (8 / 16 / 32 / -32 / -64)
      NAXIS   =                    2
      NAXIS1  =                 <w>         (fastest-varying axis = x)
      NAXIS2  =                 <h>
      BZERO   =              32768.0        (optional linear transform:
      BSCALE  =                  1.0         physical = BZERO+BSCALE*raw)
      END

  padded with blank cards to a 2880 multiple.  Values sit
  right-justified in columns 11-30 of fixed-format cards.

* Data: raw array, BIG-endian, x varying fastest, padded to a 2880
  multiple.  FITS images put the origin at the BOTTOM-left: the
  reference reads display row y from file row ``h-1-y``
  (fitsdataset.cpp:1747) and this driver preserves that flip.

The classic unsigned-16-bit idiom is covered: BITPIX=16 (signed
storage) with BZERO=32768 — raw values are offset so the physical
range is 0..65535 (fitsdataset.cpp LoadMetadata/BZERO handling).

Spark mapping — the raw-raster slab kernel (``sources/_rawgrid.py``),
one row-block slab at the bottom-up flipped offset.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from gdal_spark.sources import _rawgrid as RG

BLOCK = 2880

_DTYPES = {8: ">u1", 16: ">i2", 32: ">i4", -32: ">f4", -64: ">f8"}


def _card(key: str, value: str) -> bytes:
    """Fixed-format card: keyword in cols 1-8, '= ' in 9-10, value
    right-justified ending at col 30."""
    return f"{key:<8}= {value:>20}".ljust(80).encode("ascii")


def header_bytes(w: int, h: int, bitpix: int,
                 bzero: float = 0.0, bscale: float = 1.0) -> bytes:
    cards = [
        _card("SIMPLE", "T"),
        _card("BITPIX", str(bitpix)),
        _card("NAXIS", "2"),
        _card("NAXIS1", str(w)),
        _card("NAXIS2", str(h)),
    ]
    if bzero != 0.0:
        cards.append(_card("BZERO", repr(float(bzero))))
    if bscale != 1.0:
        cards.append(_card("BSCALE", repr(float(bscale))))
    cards.append(b"END".ljust(80))
    buf = b"".join(cards)
    pad = (-len(buf)) % BLOCK
    return buf + b" " * pad


def parse_header(path: str) -> dict:
    """Read 2880-byte blocks until the END card; keyword cards are
    fixed-format ``KEY     = value / comment``."""
    kv: dict[str, str] = {}
    data0 = 0
    with open(path, "rb") as fh:
        while True:
            block = fh.read(BLOCK)
            if len(block) < BLOCK:
                raise ValueError("fits: truncated header")
            data0 += BLOCK
            done = False
            for i in range(0, BLOCK, 80):
                card = block[i:i + 80].decode("ascii", "replace")
                key = card[:8].strip()
                if key == "END":
                    done = True
                    break
                if card[8:10] == "= ":
                    val = card[10:].split("/", 1)[0].strip()
                    kv[key] = val
            if done:
                break
    if kv.get("SIMPLE") != "T":
        raise ValueError("fits: missing SIMPLE = T")
    bitpix = int(kv["BITPIX"])
    if bitpix not in _DTYPES:
        raise ValueError(f"fits: unsupported BITPIX {bitpix}")
    if int(kv.get("NAXIS", "0")) != 2:
        raise ValueError("fits: only NAXIS = 2 images supported")
    return {
        "w": int(kv["NAXIS1"]), "h": int(kv["NAXIS2"]),
        "bitpix": bitpix,
        "bzero": float(kv.get("BZERO", "0")),
        "bscale": float(kv.get("BSCALE", "1")),
        "data0": data0,
    }


def read_fits(spark: SparkSession, path: str,
              block_rows: int = 64) -> DataFrame:
    """Distributed scan → (gy, gx, val double), gy top-down (file rows
    are bottom-up, flipped in the slab offsets); physical value =
    BZERO + BSCALE * raw."""
    hdr = parse_header(path)
    w, h = hdr["w"], hdr["h"]
    np_dt = np.dtype(_DTYPES[hdr["bitpix"]])
    bl = RG.Blocks(h, block_rows)

    def decode(read, slab):
        _, y0, rows = bl.span(slab)
        frow0 = h - (y0 + rows)  # bottom-up flip
        arr = read(hdr["data0"] + frow0 * w * np_dt.itemsize, (rows, w),
                   np_dt)[::-1]
        yield 0, y0, 0, hdr["bzero"] + hdr["bscale"] * arr.astype(
            np.float64)

    return RG.read_slabs(spark, path, bl.count, decode)


def write_fits(
    cells: DataFrame, path: str, w: int, h: int,
    *, bitpix: int = 16, bzero: float = 0.0, bscale: float = 1.0,
    fill: float = 0.0, block_rows: int = 64,
) -> None:
    """Distributed sink over (gy, gx, val): header + zero-padded data
    area driver-side, one row-block pwrite per slab at the bottom-up
    flipped offset.  Physical values are inverse-transformed to raw
    ((val - BZERO) / BSCALE) before storage."""
    if bitpix not in _DTYPES:
        raise ValueError(f"fits: unsupported BITPIX {bitpix}")
    np_dt = np.dtype(_DTYPES[bitpix])
    raw_fill = (fill - bzero) / bscale
    data0 = RG.preallocate(path, header_bytes(w, h, bitpix, bzero, bscale),
                           RG.fill_row(raw_fill, np_dt, w), h,
                           tail=(-(h * w * np_dt.itemsize)) % BLOCK)
    bl = RG.Blocks(h, block_rows)

    def encode(slab, pdf):
        _, y0, rows = bl.span(slab)
        buf = RG.scatter(pdf, (rows, w), raw_fill, np_dt,
                         pdf["gy"].to_numpy() - y0, pdf["gx"].to_numpy(),
                         vals=(pdf["val"].to_numpy(np.float64) - bzero)
                         / bscale)
        return data0 + (h - (y0 + rows)) * w * np_dt.itemsize, buf[::-1]

    RG.write_slabs(cells, path, bl.key(), (h, w), encode)
